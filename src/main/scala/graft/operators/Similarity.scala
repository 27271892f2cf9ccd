package graft.operators

import graft.{CheckpointScope, QueryDef, Tables}
import graft.functions.EmbeddingFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Baseline: brute-force cosine top-k (broadcast the query vector; one narrow
  * pass + a k-row total sort — at 100 TB this is a full scan but no shuffle
  * beyond the final top-k, which Spark executes as TakeOrderedAndProject).
  * Scale path: random-hyperplane LSH signatures bucket the vectors so queries
  * only probe matching buckets; signatures are deterministic (hyperplane
  * component i of plane j is ±1 from md5(j|i)), so the oracle reproduces them.
  */
object Similarity {

  /** Brute-force cosine top-k against the `queryId` vector (library form —
    * the exact ground truth every approximate searcher's recall is measured
    * against in SimilarityRecallSpec).
    */
  def bruteForceTopK(e: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("q_embedding")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Brute-force cosine top-10 against the vec_id=0 query vector. */
  def qAnnBruteForce(s: SparkSession, dir: String): DataFrame =
    bruteForceTopK(Tables.embeddings(s, dir), 0L, 10)

  val qAnnBruteForceSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label, ${cosineSql("embedding", "qe")} AS cos
       |FROM embeddings, q
       |WHERE vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  /** Maximal-marginal-relevance rerank over a bounded candidate set — the
    * diversity stage a retrieval pipeline runs after top-k: greedily
    * select documents maximizing λ·rel − (1−λ)·max-sim-to-selected. With
    * λ = 1/2 the marginal score is ORDER-equivalent to `rel − maxsim`,
    * a plain difference of the library's exact cosine doubles, so the
    * selection replays bit-for-bit in SQL (each greedy step statically
    * unrolls to one argmax CTE, the hnswDescentSql pattern).
    *
    * Cost shape: relevance is the distributed brute-force (or any ANN
    * probe) top-`depth`; the candidate pairwise sims are ONE bounded
    * depth²-row job; the greedy loop runs on the driver over ≤ depth
    * collected scores (k·depth comparisons — a serving-side triviality,
    * same boundedness class as the batched-probe frontier fold). Nothing
    * corpus-sized ever reaches the driver.
    */
  def mmrRerank(e: DataFrame, queryId: Long, depth: Int, k: Int): DataFrame = {
    require(depth >= 1 && depth <= 4096,
      s"mmrRerank: depth $depth out of the bounded-serving range")
    mmrFromCandidates(e, queryId,
      bruteForceTopK(e, queryId, depth).select(col("vec_id")), k)
  }

  /** MMR over an EXTERNAL candidate id set — the composition form: any
    * retrieval stage (an ANN probe's visited set, a BM25 top-k, a
    * hybrid fusion) supplies the ids; relevance re-derives as the exact
    * cosine against the query so rel and sim share one scale regardless
    * of what metric produced the candidates. `q_ann_mmr_hnsw` composes
    * this with the corpus-flat auto probe.
    */
  def mmrFromCandidates(e: DataFrame, queryId: Long, candIds: DataFrame,
      k: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    require(k >= 1, s"mmrFromCandidates: k $k")
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val cand = CheckpointScope.local(e.join(broadcast(candIds.select(col("vec_id"))
          .filter(col("vec_id") =!= queryId)), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("embedding"), col("qe")).as("rel")))
    val ce = e.join(broadcast(cand.select(col("vec_id"))), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val sims = ce.as("a").crossJoin(broadcast(ce.as("b")))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (a, xs) => a -> xs.map(x => x._2 -> x._3).toMap }
    val rels = cand.as[(Long, Double)].collect().sortBy { case (id, r) => (-r, id) }
    CheckpointScope.release(cand)
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    selected += rels.head
    while (selected.size < math.min(k, rels.length)) {
      val best = rels.iterator
        .filterNot(c => selected.exists(_._1 == c._1))
        .map { case (id, r) =>
          (id, r, r - selected.iterator.map(sv => sims(id)(sv._1)).max)
        }
        .reduceLeft((x, y) => if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x)
      selected += ((best._1, best._2))
    }
    selected.zipWithIndex
      .map { case ((id, r), i) => (i + 1L, id, r) }.toSeq
      .toDF("rank", "vec_id", "rel")
  }

  def qAnnMmr(s: SparkSession, dir: String): DataFrame =
    mmrRerank(Tables.embeddings(s, dir), 0L, depth = 20, k = 5)

  /** MMR composed over the corpus-flat ANN probe: candidates = the auto
    * probe's top-20 visited set (every stage corpus-flat), diversity
    * selection over their exact cosines — the two-stage
    * retrieve-then-diversify pipeline end to end, one oracle.
    */
  def qAnnMmrHnsw(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cand = hnswProbe(s, stagedHnswGraphAuto(s, dir), e, 0L, 20)
      .select(col("vec_id"))
    mmrFromCandidates(e, 0L, cand, 5)
  }

  // lazy: defined textually ABOVE the stride/graph constants it
  // interpolates — a plain val would capture 0s (the r12 object-init
  // gotcha; NOTES gotcha log)
  lazy val qAnnMmrHnswSql: String = {
    def step(i: Int): String = {
      val prev = s"msel${i - 1}"
      s"""mp$i AS (
         |  SELECT r.vec_id, r.rel, r.rel - max(s.sim) AS mmr
         |  FROM mrel r JOIN msims s ON s.va = r.vec_id
         |    AND s.vb IN (SELECT vec_id FROM $prev)
         |  WHERE r.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY r.vec_id, r.rel),
         |mpick$i AS (SELECT CAST($i AS BIGINT) AS rank, vec_id, rel FROM mp$i
         |           ORDER BY mmr DESC, vec_id LIMIT 1),
         |msel$i AS (SELECT rank, vec_id, rel FROM msel${i - 1}
         |          UNION ALL SELECT rank, vec_id, rel FROM mpick$i)""".stripMargin
    }
    s"""$hnswAutoPrefixSql,
       |${hnswDescentSql(0L, "", levels = 3, topModExpr = "(SELECT s*s*s FROM st)")},
       |mcand AS MATERIALIZED (SELECT vec_id FROM w3 ORDER BY nd DESC, vec_id LIMIT 20),
       |mq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |mrel AS MATERIALIZED (SELECT emb.vec_id, ${cosineSql("emb.embedding", "qe")} AS rel
       |         FROM embeddings emb JOIN mcand ON emb.vec_id = mcand.vec_id, mq),
       |mpe AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id IN (SELECT vec_id FROM mcand)),
       |msims AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb,
       |            ${cosineSql("a.embedding", "b.embedding")} AS sim
       |          FROM mpe a, mpe b WHERE a.vec_id <> b.vec_id),
       |msel1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel FROM mrel
       |          ORDER BY rel DESC, vec_id LIMIT 1),
       |${(2 to 5).map(step).mkString(",\n")}
       |SELECT rank, vec_id, rel FROM msel5 ORDER BY rank""".stripMargin
  }

  val qAnnMmrSql: String = {
    // statically unrolled greedy selection: sel_i = argmax over the
    // unselected candidates of rel − max(sim to selected), ties → id
    def step(i: Int): String = {
      val prev = s"sel${i - 1}"
      s"""p$i AS (
         |  SELECT r.vec_id, r.rel, r.rel - max(s.sim) AS mmr
         |  FROM rel r JOIN sims s ON s.va = r.vec_id
         |    AND s.vb IN (SELECT vec_id FROM $prev)
         |  WHERE r.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY r.vec_id, r.rel),
         |pick$i AS (SELECT CAST($i AS BIGINT) AS rank, vec_id, rel FROM p$i
         |           ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT rank, vec_id, rel FROM sel${i - 1}
         |          UNION ALL SELECT rank, vec_id, rel FROM pick$i)""".stripMargin
    }
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |rel AS (SELECT vec_id, ${cosineSql("embedding", "qe")} AS rel
       |        FROM embeddings, q WHERE vec_id <> 0
       |        ORDER BY rel DESC, vec_id LIMIT 20),
       |pe AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE vec_id IN (SELECT vec_id FROM rel)),
       |sims AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |           ${cosineSql("a.embedding", "b.embedding")} AS sim
       |         FROM pe a, pe b WHERE a.vec_id <> b.vec_id),
       |sel1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel FROM rel
       |         ORDER BY rel DESC, vec_id LIMIT 1),
       |${(2 to 5).map(step).mkString(",\n")}
       |SELECT rank, vec_id, rel FROM sel5 ORDER BY rank""".stripMargin
  }

  /** Random-hyperplane LSH: 8-bit signature per vector. Hyperplane j has
    * components h_ji = ±1 derived from md5("j|i"); bit j = sign of the
    * (exact scaled-int) projection.
    */
  private val NPlanes = 8
  private val Dim = 64

  def qAnnLshSignature(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).orderBy(col("vec_id"))
      .select(col("vec_id"), col("label"),
        graft.plans.LshSigExpr.lshSigNative(col("embedding"), NPlanes, Dim).as("lsh_sig"))

  val qAnnLshSignatureSql: String = {
    val bits = (0 until NPlanes).map { j =>
      val proj = (1 to Dim).map { i =>
        s"(CASE WHEN substring(md5('$j|$i'), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END) * ${scaledElemSql("embedding", i.toString)}"
      }.mkString(" + ")
      s"CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT vec_id, label, ($bits) AS lsh_sig
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin
  }

  /** LSH bucket search: the query's 8-bit signature selects a bucket; only
    * same-signature vectors are ranked by exact cosine (the probe step that
    * makes the signature table an index — at 100 TB a signature-partitioned
    * layout turns this into a single-partition read).
    */
  def lshSearch(e: DataFrame, queryId: Long, k: Int): DataFrame = {
    val sigs = e
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.plans.LshSigExpr.lshSigNative(col("embedding"), NPlanes, Dim).as("sig"))
    val q = sigs.filter(col("vec_id") === queryId)
      .select(col("sig").as("q_sig"), col("embedding").as("qe"))
    sigs.join(broadcast(q), col("sig") === col("q_sig"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), col("sig"),
        cosine(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  def qAnnLshSearch(s: SparkSession, dir: String): DataFrame =
    lshSearch(Tables.embeddings(s, dir), 0L, 5)

  private def lshSigSqlExpr: String =
    (0 until NPlanes).map { j =>
      val proj = (1 to Dim).map { i =>
        s"(CASE WHEN substring(md5('$j|$i'), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END) * ${scaledElemSql("embedding", i.toString)}"
      }.mkString(" + ")
      s"CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  val qAnnLshSearchSql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, $lshSigSqlExpr AS sig FROM embeddings),
       |q AS (SELECT sig AS q_sig, embedding AS qe FROM sigs WHERE vec_id = 0)
       |SELECT vec_id, label, sig, ${cosineSql("sigs.embedding", "qe")} AS cos
       |FROM sigs, q
       |WHERE sig = q_sig AND vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 5""".stripMargin

  /** Multi-probe LSH search: probe the query's own bucket plus every
    * hamming-distance-1 bucket (one plane flipped) — the standard recall
    * lever for LSH without duplicating the index. The probe list is
    * NPlanes+1 keys from one tiny broadcast row, so at scale this is a
    * 9-key equi-join against the signature-keyed layout, not a wider scan.
    */
  def lshMultiprobe(e: DataFrame, queryId: Long, k: Int): DataFrame = {
    val sigs = e
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.plans.LshSigExpr.lshSigNative(col("embedding"), NPlanes, Dim).as("sig"))
    val probeList = array(
      (col("q_sig") +: (0 until NPlanes).map(j =>
        col("q_sig").bitwiseXOR(lit(1L << j)))): _*)
    val probes = sigs.filter(col("vec_id") === queryId)
      .select(col("sig").as("q_sig"), col("embedding").as("qe"))
      .select(col("qe"), explode(probeList).as("probe"))
    sigs.join(broadcast(probes), col("sig") === col("probe"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), col("sig"),
        cosine(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  def qAnnLshMultiprobe(s: SparkSession, dir: String): DataFrame =
    lshMultiprobe(Tables.embeddings(s, dir), 0L, 5)

  val qAnnLshMultiprobeSql: String = {
    val probeArr = ("q_sig" +: (0 until NPlanes).map(j => s"xor(q_sig, ${1L << j})"))
      .mkString("[", ", ", "]")
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding, $lshSigSqlExpr AS sig FROM embeddings),
       |q AS (SELECT sig AS q_sig, embedding AS qe FROM sigs WHERE vec_id = 0),
       |probes AS (SELECT qe, unnest($probeArr) AS probe FROM q)
       |SELECT vec_id, label, sig, ${cosineSql("sigs.embedding", "qe")} AS cos
       |FROM sigs JOIN probes ON sig = probe
       |WHERE vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 5""".stripMargin
  }

  /** Materialize the signature-partitioned ANN layout the probe queries
    * assume at scale: vectors written under one directory per LSH
    * signature (`sig=<k>/`), repartitioned on sig so each bucket is one
    * file. A probe then prunes to its bucket directories at PLANNING time —
    * a single-partition read for one probe key, NPlanes+1 partitions for
    * multi-probe — instead of scanning the index (PlanShapeSpec asserts the
    * pruned file counts).
    */
  def writeSigPartitioned(embeddings: DataFrame, outDir: String,
      planes: Int = NPlanes, dim: Int = Dim): Unit =
    embeddings
      .withColumn("sig", graft.plans.LshSigExpr.lshSigNative(col("embedding"), planes, dim))
      .repartition(col("sig"))
      .write.mode("overwrite").partitionBy("sig").parquet(outDir)

  /** Top-k exact-cosine search against a signature-partitioned index for a
    * literal probe-key list (the query's own bucket, plus flipped-bit
    * buckets for multi-probe). Literal keys -> static partition pruning.
    */
  def searchSigPartitioned(s: SparkSession, indexDir: String,
      queryVec: Array[Double], probeSigs: Seq[Long], k: Int = 5): DataFrame = {
    val qe = lit(queryVec)
    s.read.parquet(indexDir)
      .filter(col("sig").isin(probeSigs: _*))
      .select(col("vec_id"), col("label"), col("sig"),
        cosine(col("embedding"), qe.cast("array<float>")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-style assignment: centroid per label (re-scaled to exact ints),
    * assign each vector to its nearest centroid by exact squared L2.
    * This is the coarse-quantizer step of IVF ANN: at scale the centroid
    * table is tiny and broadcast, the assignment is a narrow map, and probe
    * queries read only matching centroid partitions.
    */
  def qAnnIvfAssign(s: SparkSession, dir: String): DataFrame =
    labelCentroidAssign(Tables.embeddings(s, dir)).orderBy(col("vec_id"))

  /** Library form of the coarse-quantizer assignment: nearest label-centroid
    * per vector by exact squared L2 in scaled-int space, over any
    * (vec_id, label, embedding) frame. Returns (vec_id, label, assigned,
    * dist) unordered. Shared by the IVF entries and SemDeDup
    * ([[Dedup.semanticDropList]]), whose cluster scoping is this assignment.
    */
  def labelCentroidAssign(e0: DataFrame): DataFrame = {
    val e = e0.withColumn("v", scaled(col("embedding")))
    e.crossJoin(broadcast(labelCentroidArr(e)))
      .withColumn("best", nearestCentStruct)
      .select(col("vec_id"), col("label"),
        col("best.c_label").as("assigned"), col("best.dist").as("dist"))
  }

  /** All L label centroids folded into ONE broadcastable row (sorted
    * (c_label, cv) struct array) over an e-with-`v` frame — the shared
    * coarse-quantizer table: [[labelCentroidAssign]] composes it with
    * [[nearestCentStruct]], and [[Dedup.semanticDropList]] rides the same
    * broadcast so its signature AND assignment are ONE projection (the
    * former sig⋈assigned equi-join of two n-row frames derived from the
    * same scan was a pure-overhead exchange).
    */
  private[operators] def labelCentroidArr(e: DataFrame): DataFrame = {
    // centroid: per-label elementwise mean of scaled components, re-rounded
    val comp = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
    val cent = comp.groupBy(col("label"), col("i"))
      .agg(round(sum(col("x")) / count(lit(1))).as("c"))
      .groupBy(col("label")).agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ic"))
      .select(col("label").as("c_label"), expr("transform(ic, p -> p.c)").as("cv"))
    cent.agg(sort_array(collect_list(struct(col("c_label"), col("cv")))).as("cents"))
  }

  /** Per-vector nearest-centroid argmin over a row holding `v` and the
    * broadcast `cents` array — a narrow projection (array_min over
    * (dist, label) structs — struct ordering = min by dist, ties by
    * label). The former formulation shuffled n×L rows through a
    * row_number window just to pick this minimum; this plan has no
    * exchange on the n-row path at all.
    */
  private[operators] def nearestCentStruct: Column =
    array_min(transform(col("cents"), c =>
      struct(
        aggregate(zip_with(col("v"), c.getField("cv"), (x, cc) => (x - cc) * (x - cc)),
          lit(0.0d), (acc, x) => acc + x).as("dist"),
        c.getField("c_label").as("c_label"))))

  /** DuckDB twin of [[labelCentroidAssign]] as a reusable CTE chain ending
    * in `assigned(vec_id, label, assigned, dist)` — shared by the IVF
    * oracle entry and the SemDeDup twin in [[Dedup]].
    */
  private[operators] val assignedCteSql: String =
    s"""e AS (
       |  SELECT vec_id, label,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |comp AS (
       |  SELECT label, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM e),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY i) AS cv
       |  FROM (SELECT label, i, round(sum(x)/count(*)) AS c FROM comp GROUP BY label, i)
       |  GROUP BY label),
       |dmat AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    list_sum(list_transform(range(1, $Dim+1), i -> (v[i]-cv[i])*(v[i]-cv[i]))) AS dist
       |  FROM e, cent c),
       |assigned AS (
       |  SELECT vec_id, label, c_label AS assigned, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rk
       |    FROM dmat)
       |  WHERE rk = 1)""".stripMargin

  val qAnnIvfAssignSql: String =
    s"""WITH $assignedCteSql
       |SELECT vec_id, label, assigned, dist FROM assigned
       |ORDER BY vec_id""".stripMargin

  /** Full IVF probe-search: pick the centroid nearest to the query vector,
    * then rank only that bucket's vectors by cosine — the two-stage ANN
    * pattern (coarse quantizer -> in-bucket scan). At 100 TB the bucket scan
    * reads one label partition instead of the full table.
    */
  def ivfSearch(e: DataFrame, queryId: Long, k: Int, nprobe: Int = 1): DataFrame = {
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    // per-label centroid in scaled-int space (same construction as assign)
    val comp = e.withColumn("v", scaled(col("embedding")))
      .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
    val cent = comp.groupBy(col("label"), col("i"))
      .agg(round(sum(col("x")) / count(lit(1))).as("c"))
      .groupBy(col("label")).agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ic"))
      .select(col("label").as("c_label"), expr("transform(ic, p -> p.c)").as("cv"))
    val qs = cent.crossJoin(broadcast(q))
      .withColumn("qv", scaled(col("qe")))
      .withColumn("dist", dotScaled(zip_with(col("qv"), col("cv"), (a, b) => a - b),
        zip_with(col("qv"), col("cv"), (a, b) => a - b)))
      .orderBy(col("dist"), col("c_label"))
      .limit(nprobe)
      .select(col("c_label").as("probe_label"), col("qe"))
    e.join(broadcast(qs), col("label") === col("probe_label"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  def qAnnIvfSearch(s: SparkSession, dir: String): DataFrame =
    ivfSearch(Tables.embeddings(s, dir), 0L, 5)

  val qAnnIvfSearchSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v,
       |    embedding
       |  FROM embeddings),
       |q AS (SELECT embedding AS qe,
       |        list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS qv
       |      FROM embeddings WHERE vec_id = 0),
       |comp AS (SELECT label, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM e),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY i) AS cv
       |  FROM (SELECT label, i, round(sum(x)/count(*)) AS c FROM comp GROUP BY label, i)
       |  GROUP BY label),
       |probe AS (
       |  SELECT c_label FROM cent, q
       |  ORDER BY list_sum(list_transform(range(1, $Dim+1), i -> (qv[i]-cv[i])*(qv[i]-cv[i]))), c_label
       |  LIMIT 1)
       |SELECT vec_id, label, ${cosineSql("e.embedding", "qe")} AS cos
       |FROM e, q, probe
       |WHERE e.label = probe.c_label AND vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 5""".stripMargin

  /** Unsupervised coarse quantizer: K-means (Lloyd's) in exact scaled-int
    * space — deterministic init (centroids = the first K vectors), KmIters
    * assign/update rounds, then the final assignment. Each assign is the
    * shuffle-free broadcast-argmin projection from qAnnIvfAssign (all
    * centroids in ONE broadcast row, array_min over (dist, id) structs);
    * each update is a partial-aggregated elementwise mean re-rounded to
    * ints so both engines see identical centroids. This is the real
    * iterative IVF index build; per iteration the n-row side is scanned
    * once with no exchange beyond the (tiny) centroid aggregation.
    */
  private val KmK = 8
  private val KmIters = 3

  def qAnnKmeans(s: SparkSession, dir: String): DataFrame = {
    // the working set is read in every assign pass (KmIters + final): lazily
    // checkpoint it once so the parquet scan + scale projection run ONCE and
    // later iterations read the materialized rows (MEMORY_AND_DISK) — the
    // 4x re-scan was the whole remaining K-means overhead at sf1
    val e = CheckpointScope.local(Tables.embeddings(s, dir)
      .select(col("vec_id"), scaled(col("embedding")).as("v")), eager = false)
    var cents = e.filter(col("vec_id") < KmK)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    var assigned: DataFrame = null
    for (it <- 1 to KmIters) {
      val centArr = cents
        .agg(sort_array(collect_list(struct(col("c_id"), col("cv")))).as("cents"))
      // native one-loop argmin (ArgminL2Expr): the declarative
      // array_min-over-transform form pays K*dim interpreted closure calls
      // per row and dominated the assign pass
      assigned = e.crossJoin(broadcast(centArr))
        .withColumn("best",
          graft.plans.ArgminL2Expr.argminL2(col("v"), col("cents")))
        .select(col("vec_id"), col("v"),
          col("best.c_id").as("c"), col("best.dist").as("dist"))
      if (it < KmIters) {
        // checkpoint the (K-row) centroid update: without it every later
        // iteration's broadcast subtree re-executes ALL earlier assign
        // passes (lineage grows quadratically in iters). Lazy: lineage is
        // cut at first materialization, so building the plan runs no job
        cents = CheckpointScope.local(assigned
          .select(col("c"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("c"), col("i"))
          .agg(round(sum(col("x")) / count(lit(1))).as("m"))
          .groupBy(col("c"))
          .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("im"))
          .select(col("c").as("c_id"), expr("transform(im, p -> p.m)").as("cv")),
          eager = false)
      }
    }
    assigned.select(col("vec_id"), col("c").as("cluster"), col("dist"))
      .orderBy(col("vec_id"))
  }

  val qAnnKmeansSql: String = {
    val vExpr = s"list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")})"
    val distExpr = s"list_sum(list_transform(range(1, $Dim+1), i -> (v[i]-cv[i])*(v[i]-cv[i])))"
    def assignCte(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT vec_id, v, c_id, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rk
         |    FROM (SELECT e.vec_id, e.v, c.c_id, $distExpr AS dist FROM e, $prev c))
         |  WHERE rk = 1)""".stripMargin
    def updateCte(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT c_id, list(m ORDER BY i) AS cv FROM (
         |    SELECT c_id, i, round(sum(x) / count(*)) AS m FROM (
         |      SELECT c_id, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM $prev)
         |    GROUP BY c_id, i)
         |  GROUP BY c_id)""".stripMargin
    val rounds = (1 to KmIters).flatMap { it =>
      val a = assignCte(if (it == 1) "c0" else s"c${it - 1}", s"a$it")
      if (it < KmIters) Seq(a, updateCte(s"a$it", s"c$it")) else Seq(a)
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, $vExpr AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < $KmK),
       |$rounds
       |SELECT vec_id, c_id AS cluster, dist FROM a$KmIters
       |ORDER BY vec_id""".stripMargin
  }

  // ---- Product quantization (PQ) — the ANN compression stage: split the
  // vector into PqM subspaces, quantize each independently against a small
  // per-subspace codebook, and search with asymmetric distance computation
  // (ADC: the query stays exact, data vectors are represented by their
  // codes). At 100 TB the win is storage/bandwidth: PqM bytes per vector
  // instead of Dim floats, and a search reads codes + one tiny distance
  // table instead of raw vectors. Codebooks here are the deterministic
  // per-label centroid slices (the same exact scaled-int construction as
  // the IVF coarse quantizer — oracle-tractable; a production index would
  // Lloyd-iterate each subspace with the qAnnKmeans machinery).

  private val PqM = 4
  private val PqSub = Dim / PqM

  /** Shared: (label, full-dim scaled centroid) folded into ONE broadcast
    * row, same shape as the IVF assign path.
    */
  private def pqCentArr(e: DataFrame): DataFrame = {
    val comp = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
    comp.groupBy(col("label"), col("i"))
      .agg(round(sum(col("x")) / count(lit(1))).as("c"))
      .groupBy(col("label")).agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ic"))
      .select(col("label").as("c_label"), expr("transform(ic, p -> p.c)").as("cv"))
      .agg(sort_array(collect_list(struct(col("c_label"), col("cv")))).as("cents"))
  }

  private def subDist(v: Column, cv: Column, j: Int): Column =
    aggregate(
      zip_with(slice(v, j * PqSub + 1, PqSub), slice(cv, j * PqSub + 1, PqSub),
        (x, c) => (x - c) * (x - c)),
      lit(0.0d), (acc, x) => acc + x)

  /** Cut scaled vectors into per-subspace rows: (id, j, subv). */
  private def pqSubRows(df: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame = {
    val sub = Dim / m
    df.select(col(idCol).as("__id"), scaled(col(vecCol)).as("__v"))
      .select(col("__id"), posexplode(array((0 until m).map(j =>
        slice(col("__v"), j * sub + 1, sub)): _*)).as(Seq("j", "subv")))
  }

  /** Assign every subvector to its nearest codebook entry. `books` has
    * (j, c_id, cv); the whole codebook set is folded to an m-row broadcast
    * and joined on j, then the native argmin runs as a narrow projection —
    * one job assigns ALL subspaces. Returns (id, j, code, dist).
    */
  private def pqAssignRaw(subRows: DataFrame, books: DataFrame): DataFrame = {
    val byJ = books.groupBy(col("j"))
      .agg(sort_array(collect_list(struct(col("c_id"), col("cv")))).as("cents"))
    subRows.join(broadcast(byJ), "j")
      .withColumn("best", graft.plans.ArgminL2Expr.argminL2(col("subv"), col("cents")))
  }

  def pqAssign(subRows: DataFrame, books: DataFrame): DataFrame =
    pqAssignRaw(subRows, books)
      .select(col("__id").as("id"), col("j"),
        col("best.c_id").as("code"), col("best.dist").as("dist"))

  /** Lloyd-trained per-subspace PQ codebooks (library API; the oracle pair
    * below uses deterministic label-centroid codebooks instead because a
    * 4-subspace iterated k-means is not reasonably SQL-expressible).
    * Deterministic init (entry c of subspace j = vec c's j-th subvector),
    * then `iters` rounds of assign + re-mean — ALL subspaces train in one
    * job per round: subvector rows carry their subspace index j, the m-row
    * codebook table broadcasts, and the partial-agg mean updates every
    * (j, code) centroid simultaneously. Same checkpoint discipline as
    * qAnnKmeans (working set once, codebooks per round, lazily).
    * Returns (j, c_id, cv).
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      m: Int = PqM, k: Int = 8, iters: Int = 3): DataFrame = {
    val subRows = CheckpointScope.local(pqSubRows(df, idCol, vecCol, m), eager = false)
    var books = subRows.filter(col("__id") < k)
      .select(col("j"), col("__id").as("c_id"), col("subv").as("cv"))
    for (_ <- 1 to iters) {
      books = CheckpointScope.local(pqAssignRaw(subRows, books)
        .select(col("j"), col("best.c_id").as("code"),
          posexplode(col("subv")).as(Seq("i", "x")))
        .groupBy(col("j"), col("code"), col("i"))
        .agg(round(sum(col("x")) / count(lit(1))).as("mn"))
        .groupBy(col("j"), col("code"))
        .agg(array_sort(collect_list(struct(col("i"), col("mn")))).as("im"))
        .select(col("j"), col("code").as("c_id"), expr("transform(im, p -> p.mn)").as("cv")),
        eager = false)
    }
    books
  }

  /** Total quantization error of a codebook set over a corpus — the
    * training objective; TrainSpec pins its monotone descent per round.
    */
  def pqQuantizationError(df: DataFrame, idCol: String, vecCol: String,
      books: DataFrame, m: Int = PqM): Double =
    pqAssign(pqSubRows(df, idCol, vecCol, m), books)
      .agg(sum(col("dist"))).collect()(0).getDouble(0)

  private val PqTrainK = 8
  private val PqTrainIters = 2

  /** Oracle entry for [[pqTrain]]: two Lloyd rounds over all PqM subspaces
    * at once, trained codebooks exploded to integer (j, c_id, i, m) rows so
    * the cross-engine compare is pure scalars (no array rendering). The SQL
    * twin is qAnnKmeansSql's CTE chain with the subspace index j threaded
    * through every stage (assign partitions by (vec_id, j), update groups
    * by (j, code, i)).
    */
  def qAnnPqTrain(s: SparkSession, dir: String): DataFrame =
    pqTrain(Tables.embeddings(s, dir), "vec_id", "embedding",
        m = PqM, k = PqTrainK, iters = PqTrainIters)
      .select(col("j"), col("c_id"), posexplode(col("cv")).as(Seq("i", "m")))
      .select(col("j"), col("c_id"), col("i"), col("m").cast("long").as("m"))
      .orderBy(col("j"), col("c_id"), col("i"))

  val qAnnPqTrainSql: String = {
    val vExpr = s"list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")})"
    val distExpr = s"list_sum(list_transform(range(1, $PqSub+1), i -> (sv[i]-cv[i])*(sv[i]-cv[i])))"
    def assignCte(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT vec_id, j, sv, c_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c_id) AS rk
         |    FROM (SELECT s.vec_id, s.j, s.sv, c.c_id, $distExpr AS dist
         |          FROM sub s JOIN $prev c USING (j)))
         |  WHERE rk = 1)""".stripMargin
    def updateCte(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT j, c_id, list(m ORDER BY i) AS cv FROM (
         |    SELECT j, c_id, i, round(sum(x) / count(*)) AS m FROM (
         |      SELECT j, c_id, unnest(range(1, $PqSub+1)) AS i, unnest(sv) AS x FROM $prev)
         |    GROUP BY j, c_id, i)
         |  GROUP BY j, c_id)""".stripMargin
    val rounds = (1 to PqTrainIters).flatMap { it =>
      Seq(assignCte(s"c${it - 1}", s"a$it"), updateCte(s"a$it", s"c$it"))
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, $vExpr AS v FROM embeddings),
       |sub AS (
       |  SELECT vec_id, js.j,
       |    list_transform(range(1, $PqSub+1), i -> v[js.j*$PqSub+i]) AS sv
       |  FROM e, (SELECT unnest(range(0, $PqM)) AS j) js),
       |c0 AS (SELECT j, vec_id AS c_id, sv AS cv FROM sub WHERE vec_id < $PqTrainK),
       |$rounds
       |SELECT j, c_id, i, CAST(m AS BIGINT) AS m FROM (
       |  SELECT j, c_id, unnest(range(0, $PqSub)) AS i, unnest(cv) AS m FROM c$PqTrainIters)
       |ORDER BY j, c_id, i""".stripMargin
  }

  /** PQ encode: per subspace j, the code is the label of the nearest
    * codebook slice (ties by label). A narrow broadcast-argmin projection —
    * no exchange on the n-row path, like qAnnIvfAssign.
    */
  def qAnnPqEncode(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).withColumn("v", scaled(col("embedding")))
    val codes = (0 until PqM).map { j =>
      array_min(transform(col("cents"), c =>
        struct(subDist(col("v"), c.getField("cv"), j).as("dist"),
          c.getField("c_label").as("l")))).getField("l").as(s"code_$j")
    }
    e.crossJoin(broadcast(pqCentArr(e)))
      .select(col("vec_id") +: codes: _*)
      .orderBy(col("vec_id"))
  }

  val qAnnPqEncodeSql: String = {
    val codeCols = (0 until PqM).map(j =>
      s"max(CASE WHEN j = $j THEN c_label END) AS code_$j").mkString(",\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |comp AS (SELECT label, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM e),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY i) AS cv
       |  FROM (SELECT label, i, round(sum(x)/count(*)) AS c FROM comp GROUP BY label, i)
       |  GROUP BY label),
       |d AS (
       |  SELECT e.vec_id, c.c_label, js.j,
       |    list_sum(list_transform(range(1, $PqSub+1),
       |      i -> (v[js.j*$PqSub+i]-cv[js.j*$PqSub+i])*(v[js.j*$PqSub+i]-cv[js.j*$PqSub+i]))) AS dist
       |  FROM e, cent c, (SELECT unnest(range(0, $PqM)) AS j) js),
       |best AS (
       |  SELECT vec_id, j, c_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c_label) AS rk
       |    FROM d)
       |  WHERE rk = 1)
       |SELECT vec_id,
       |  $codeCols
       |FROM best GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** PQ ADC search: quantize each DATA vector (per-subspace argmin), keep
    * the query exact, and rank by the additive distance to the vector's
    * reconstruction: adist = Σ_j ‖q_j − C_j[code_j(v)]‖². The per-entry
    * struct carries (dist_v, label, dist_q); the argmin orders on
    * (dist_v, label) — label is unique per entry, so dist_q never
    * participates in the comparison — and .distq reads the table lookup.
    * All distances are sums of squared scaled ints (exact in double).
    */
  def pqSearch(e0: DataFrame, queryId: Long, k: Int): DataFrame = {
    val e = e0.withColumn("v", scaled(col("embedding")))
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val adist = (0 until PqM).map { j =>
      array_min(transform(col("cents"), c =>
        struct(subDist(col("v"), c.getField("cv"), j).as("dist"),
          c.getField("c_label").as("l"),
          subDist(col("qv"), c.getField("cv"), j).as("distq"))))
        .getField("distq")
    }.reduce(_ + _)
    e.crossJoin(broadcast(pqCentArr(e))).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adist.as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  def qAnnPqSearch(s: SparkSession, dir: String): DataFrame =
    pqSearch(Tables.embeddings(s, dir), 0L, 5)

  val qAnnPqSearchSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |comp AS (SELECT label, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM e),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY i) AS cv
       |  FROM (SELECT label, i, round(sum(x)/count(*)) AS c FROM comp GROUP BY label, i)
       |  GROUP BY label),
       |d AS (
       |  SELECT e.vec_id, c.c_label, js.j,
       |    list_sum(list_transform(range(1, $PqSub+1),
       |      i -> (v[js.j*$PqSub+i]-cv[js.j*$PqSub+i])*(v[js.j*$PqSub+i]-cv[js.j*$PqSub+i]))) AS dist
       |  FROM e, cent c, (SELECT unnest(range(0, $PqM)) AS j) js
       |  WHERE e.vec_id <> 0),
       |dq AS (
       |  SELECT c.c_label, js.j,
       |    list_sum(list_transform(range(1, $PqSub+1),
       |      i -> (qv[js.j*$PqSub+i]-cv[js.j*$PqSub+i])*(qv[js.j*$PqSub+i]-cv[js.j*$PqSub+i]))) AS distq
       |  FROM cent c, q, (SELECT unnest(range(0, $PqM)) AS j) js),
       |best AS (
       |  SELECT vec_id, j, c_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c_label) AS rk
       |    FROM d)
       |  WHERE rk = 1)
       |SELECT vec_id, sum(distq) AS adist
       |FROM best JOIN dq USING (c_label, j)
       |GROUP BY vec_id
       |ORDER BY adist, vec_id
       |LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- SQ8 --

  /** Scalar quantization (SQ8): per-dimension [lo,hi] trained over the
    * corpus, each component encoded to an 8-bit level, searched with the
    * asymmetric (ADC) reconstruction distance — the third classic ANN
    * compression next to IVF and PQ, and the cheapest: 64 bytes/vector,
    * encode and search both narrow codegen'd projections.
    *
    * Determinism: components are lifted at 2^12 (not the usual 2^20) so the
    * 255-multiplied ADC arithmetic stays inside double-exact range: recon255
    * = 255*lo + code*(hi-lo) <= ~2^22, squared diffs <= 2^44, summed over 64
    * dims <= 2^50 < 2^53 — every distance an exact integer, no division
    * anywhere in the ranking key. The 2^-12 lift error is far below the
    * 8-bit quantization error SQ8 itself accepts.
    *
    * Scale: training is one posexplode + partial-agg'd min/max (shuffle
    * collapses to partitions*Dim rows); bounds broadcast as one row; encode
    * and search never exchange the n-row side (same plan family as
    * qAnnIvfAssign).
    */
  private val SqScale = 4096 // 2^12

  private def scaled12(e: Column): Column =
    transform(e, x => round(x.cast("double") * SqScale))

  private def scaled12ElemSql(e: String, i: String): String =
    s"round(CAST(($e)[$i] AS DOUBLE) * $SqScale)"

  /** Per-dim (dim, lo, hi) bounds over the scaled corpus (0-based dim). */
  private def sqBoundsRows(e: DataFrame): DataFrame =
    e.select(posexplode(scaled12(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))

  /** One-row (los, his) broadcast form of [[sqBoundsRows]]. */
  private def sqBoundsArr(e: DataFrame): DataFrame =
    sqBoundsRows(e)
      .agg(array_sort(collect_list(struct(col("dim"), col("lo"), col("hi")))).as("dlh"))
      .select(expr("transform(dlh, p -> p.lo)").as("los"),
        expr("transform(dlh, p -> p.hi)").as("his"))

  private val sqBoundsSqlCtes: String =
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(range(1, $Dim+1), i -> ${scaled12ElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |comp AS (SELECT unnest(range(0, $Dim)) AS dim, unnest(v) AS x FROM e),
       |b AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM comp GROUP BY dim),
       |bl AS (SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his FROM b)""".stripMargin

  def qAnnSqTrain(s: SparkSession, dir: String): DataFrame =
    sqBoundsRows(Tables.embeddings(s, dir))
      .select(col("dim"), col("lo").cast("long").as("lo"), col("hi").cast("long").as("hi"))
      .orderBy(col("dim"))

  val qAnnSqTrainSql: String =
    s"""WITH $sqBoundsSqlCtes
       |SELECT dim, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi FROM b
       |ORDER BY dim""".stripMargin

  /** The `levels`-ary code of component i (1-based), given los/his columns:
    * 255 = SQ8 (8-bit), 15 = SQ4 (4-bit, half the bytes for ~2x the
    * quantization error — the standard memory/recall trade both share the
    * one bounds pass).
    */
  private def sqCodeAt(v: Column, i: Column, levels: Int = 255): Column = {
    val x = element_at(v, i); val lo = element_at(col("los"), i); val hi = element_at(col("his"), i)
    when(hi === lo, lit(0.0)).otherwise(round((x - lo) * levels / (hi - lo)))
  }

  private def sqCodeAtSql(v: String, levels: Int = 255): String =
    s"CASE WHEN his[i] = los[i] THEN 0 ELSE round(($v[i] - los[i]) * $levels / (his[i] - los[i])) END"

  def qAnnSqEncode(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).withColumn("v", scaled12(col("embedding")))
    e.crossJoin(broadcast(sqBoundsArr(e)))
      .select(col("vec_id"),
        concat_ws(",", transform(sequence(lit(1), lit(Dim)),
          i => sqCodeAt(col("v"), i).cast("long").cast("string"))).as("codes"))
      .orderBy(col("vec_id"))
  }

  val qAnnSqEncodeSql: String =
    s"""WITH $sqBoundsSqlCtes
       |SELECT vec_id,
       |  array_to_string(list_transform(range(1, $Dim+1),
       |    i -> CAST(CAST(${sqCodeAtSql("v")} AS BIGINT) AS VARCHAR)), ',') AS codes
       |FROM e, bl
       |ORDER BY vec_id""".stripMargin

  /** ADC search: data vectors quantized on the fly, the query kept exact;
    * rank by the exact-integer sum of squared `levels`-multiplied diffs
    * (SQ8: |recon255| <= ~2^22, squared <= 2^44, x64 dims <= 2^50; SQ4's
    * 15-multiplied values are 17x smaller still — both exact doubles).
    */
  def sqSearch(e0: DataFrame, queryId: Long, k: Int, levels: Int = 255): DataFrame = {
    val e = e0.withColumn("v", scaled12(col("embedding")))
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val adist = aggregate(
      transform(sequence(lit(1), lit(Dim)), { i =>
        val lo = element_at(col("los"), i); val hi = element_at(col("his"), i)
        val recon = lit(levels) * lo + sqCodeAt(col("v"), i, levels) * (hi - lo)
        val d = recon - lit(levels) * element_at(col("qv"), i)
        d * d
      }),
      lit(0.0d), (acc, x) => acc + x)
    e.crossJoin(broadcast(sqBoundsArr(e))).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adist.cast("long").as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  def qAnnSqSearch(s: SparkSession, dir: String): DataFrame =
    sqSearch(Tables.embeddings(s, dir), 0L, 10)

  val qAnnSqSearchSql: String =
    s"""WITH $sqBoundsSqlCtes,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT vec_id, CAST(list_sum(list_transform(
       |    list_transform(range(1, $Dim+1),
       |      i -> 255 * los[i] + (${sqCodeAtSql("v")}) * (his[i] - los[i]) - 255 * qv[i]),
       |    d -> d * d)) AS BIGINT) AS adist
       |FROM e, bl, q
       |WHERE vec_id <> 0
       |ORDER BY adist, vec_id
       |LIMIT 10""".stripMargin

  /** SQ4 (VERDICT r7 #5): the 4-bit variant — same one-pass bounds, codes
    * in 0..15 so two components pack per byte on disk (32 bytes/vector at
    * Dim=64). Encode and ADC search reuse the SQ8 path at levels=15.
    */
  def qAnnSq4Encode(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).withColumn("v", scaled12(col("embedding")))
    e.crossJoin(broadcast(sqBoundsArr(e)))
      .select(col("vec_id"),
        concat_ws(",", transform(sequence(lit(1), lit(Dim)),
          i => sqCodeAt(col("v"), i, 15).cast("long").cast("string"))).as("codes"))
      .orderBy(col("vec_id"))
  }

  val qAnnSq4EncodeSql: String =
    s"""WITH $sqBoundsSqlCtes
       |SELECT vec_id,
       |  array_to_string(list_transform(range(1, $Dim+1),
       |    i -> CAST(CAST(${sqCodeAtSql("v", 15)} AS BIGINT) AS VARCHAR)), ',') AS codes
       |FROM e, bl
       |ORDER BY vec_id""".stripMargin

  def qAnnSq4Search(s: SparkSession, dir: String): DataFrame =
    sqSearch(Tables.embeddings(s, dir), 0L, 10, levels = 15)

  val qAnnSq4SearchSql: String =
    s"""WITH $sqBoundsSqlCtes,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT vec_id, CAST(list_sum(list_transform(
       |    list_transform(range(1, $Dim+1),
       |      i -> 15 * los[i] + (${sqCodeAtSql("v", 15)}) * (his[i] - los[i]) - 15 * qv[i]),
       |    d -> d * d)) AS BIGINT) AS adist
       |FROM e, bl, q
       |WHERE vec_id <> 0
       |ORDER BY adist, vec_id
       |LIMIT 10""".stripMargin

  /** Unit-normalization of the embedding column — the preprocessing step
    * every cosine-based ANN/near-dup pipeline runs first (after it, dot
    * product IS cosine and L2 ranking == cosine ranking). Normalized
    * components are rendered in round(x*2^20) int space: sum-of-squares is
    * an exact int, sqrt and the division are single correctly-rounded IEEE
    * ops, so the rendering is bit-stable across engines. A narrow
    * codegen'd projection — zero shuffle beyond the presentation sort.
    */
  def qEmbNormalize(s: SparkSession, dir: String): DataFrame =
    unitNormalized(Tables.embeddings(s, dir))

  /** Library form of [[qEmbNormalize]] over any (vec_id, embedding) frame. */
  def unitNormalized(e: DataFrame): DataFrame = {
    val v = scaled(col("embedding"))
    val ss = dotScaled(v, v)
    e.select(col("vec_id"), v.as("__v"), ss.cast("long").as("norm_sq"))
      .select(col("vec_id"), col("norm_sq"),
        // zero-vector guard: 0/sqrt(0) is NaN, and Spark's non-ANSI cast
        // folds NaN to 0L while DuckDB diverges casting NaN to BIGINT —
        // make the zero-norm case an explicit 0 on BOTH sides (ADVICE pin)
        concat_ws(",", transform(col("__v"),
          x => when(col("norm_sq") === 0, lit(0L))
            .otherwise(round(x / sqrt(col("norm_sq")) * Scale).cast("long"))
            .cast("string")))
          .as("unit_scaled"))
      .orderBy(col("vec_id"))
  }

  val qEmbNormalizeSql: String = {
    val v = s"list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")})"
    s"""SELECT vec_id, CAST(ss AS BIGINT) AS norm_sq,
       |  array_to_string(list_transform(v,
       |    x -> CAST(CASE WHEN ss = 0 THEN 0 ELSE CAST(round(x / sqrt(ss) * ${graft.functions.EmbeddingFunctions.Scale}) AS BIGINT) END AS VARCHAR)), ',') AS unit_scaled
       |FROM (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS ss
       |      FROM (SELECT vec_id, $v AS v FROM embeddings))
       |ORDER BY vec_id""".stripMargin
  }

  /** IVF-PQ composite search — the FAISS `IVF,PQ` serving shape
    * (by_residual=false): the coarse quantizer prunes the corpus to the
    * `nprobe` nearest label buckets, and only those buckets' vectors are
    * ranked by the PQ ADC distance. This is THE standard 100 TB ANN path:
    * the probe reads nprobe label partitions (the [[writeSigPartitioned]]
    * layout) instead of the table, and each surviving candidate costs an
    * m-term codebook lookup instead of a full-dim dot product. Pure
    * composition of [[ivfSearch]]'s probe with [[pqSearch]]'s ADC scoring;
    * every distance stays a sum of squared scaled ints (exact in double),
    * so the composite remains hash-checkable cross-engine.
    */
  def ivfPqSearch(e0: DataFrame, queryId: Long, k: Int,
      nprobe: Int = 2): DataFrame = {
    val e = e0.withColumn("v", scaled(col("embedding")))
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val centArr = pqCentArr(e) // ONE broadcast row: every label centroid
    val probes = centArr.crossJoin(q)
      .select(explode(col("cents")).as("c"), col("qv"))
      .select(col("c.c_label").as("probe_label"),
        aggregate(zip_with(col("qv"), col("c.cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x).as("qdist"))
      .orderBy(col("qdist"), col("probe_label"))
      .limit(nprobe)
      .select(col("probe_label"))
    val adist = (0 until PqM).map { j =>
      array_min(transform(col("cents"), c =>
        struct(subDist(col("v"), c.getField("cv"), j).as("dist"),
          c.getField("c_label").as("l"),
          subDist(col("qv"), c.getField("cv"), j).as("distq"))))
        .getField("distq")
    }.reduce(_ + _)
    e.join(broadcast(probes), col("label") === col("probe_label"))
      .crossJoin(broadcast(centArr)).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), adist.as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  def qAnnIvfPqSearch(s: SparkSession, dir: String): DataFrame =
    ivfPqSearch(Tables.embeddings(s, dir), 0L, 5, nprobe = 2)

  val qAnnIvfPqSearchSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |comp AS (SELECT label, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM e),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY i) AS cv
       |  FROM (SELECT label, i, round(sum(x)/count(*)) AS c FROM comp GROUP BY label, i)
       |  GROUP BY label),
       |probe AS (
       |  SELECT c_label AS probe_label FROM cent, q
       |  ORDER BY list_sum(list_transform(range(1, $Dim+1), i -> (qv[i]-cv[i])*(qv[i]-cv[i]))), c_label
       |  LIMIT 2),
       |d AS (
       |  SELECT e.vec_id, e.label, c.c_label, js.j,
       |    list_sum(list_transform(range(1, $PqSub+1),
       |      i -> (v[js.j*$PqSub+i]-cv[js.j*$PqSub+i])*(v[js.j*$PqSub+i]-cv[js.j*$PqSub+i]))) AS dist
       |  FROM e JOIN probe ON e.label = probe_label, cent c,
       |    (SELECT unnest(range(0, $PqM)) AS j) js
       |  WHERE e.vec_id <> 0),
       |dq AS (
       |  SELECT c.c_label, js.j,
       |    list_sum(list_transform(range(1, $PqSub+1),
       |      i -> (qv[js.j*$PqSub+i]-cv[js.j*$PqSub+i])*(qv[js.j*$PqSub+i]-cv[js.j*$PqSub+i]))) AS distq
       |  FROM cent c, q, (SELECT unnest(range(0, $PqM)) AS j) js),
       |best AS (
       |  SELECT vec_id, label, j, c_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c_label) AS rk
       |    FROM d)
       |  WHERE rk = 1)
       |SELECT vec_id, label, sum(distq) AS adist
       |FROM best JOIN dq USING (c_label, j)
       |GROUP BY vec_id, label
       |ORDER BY adist, vec_id
       |LIMIT 5""".stripMargin

  // -------------------------------------------------------------- binary --

  /** Binary (1-bit) quantization — the cheapest point on the ANN
    * compression ladder (8 bytes/vector at Dim=64, vs SQ4's 32): bit i says
    * whether component i sits above its per-dimension corpus threshold, and
    * candidate ranking is Hamming distance on the packed bits. Serving
    * shape is shortlist-then-rerank: Hamming top-R from the bits alone,
    * then exact scaled-int cosine on the R-row shortlist — the same
    * two-stage contract as [[qHybridRerank]]'s sparse/dense split.
    *
    * Determinism: the threshold test is `x * n_vecs > sum_x` — an exact
    * integer comparison (components pre-lifted to 2^20 ints), so no
    * mean division ever happens; the packed halves are exact int64 sums of
    * distinct powers of two; Hamming is `bit_count(xor)` on both engines.
    * The per-dim sums stay double-exact up to ~2^33 vectors (2^20-scale
    * components, 2^53 mantissa); beyond that lift the threshold pass to
    * DECIMAL — the bits, not the sums, are what ships.
    *
    * Scale: training is the [[sqBoundsRows]] plan family (one posexplode +
    * partial agg to Dim rows); encode and search never shuffle the n-row
    * side; the Hamming shortlist is a TakeOrderedAndProject; the rerank
    * touches R rows. At 100 TB the packed bits are 1/256th of the float
    * corpus — the scan that ranks candidates reads 8 bytes where
    * brute-force reads 256.
    */
  private def binThresholds(e: DataFrame): DataFrame =
    e.select(posexplode(scaled(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(sum(col("x")).as("s"))
      .agg(array_sort(collect_list(struct(col("dim"), col("s")))).as("ds"))
      .select(expr("transform(ds, p -> p.s)").as("sums"))
      .crossJoin(binCount(e))

  private def binCount(e: DataFrame): DataFrame =
    e.agg(count(lit(1)).as("n_vecs"))

  /** bit i (1-based dim) of the vector in scaled space. */
  private def binBit(v: Column, i: Column): Column =
    element_at(v, i) * col("n_vecs") > element_at(col("sums"), i)

  /** Pack bits (1-based dims lo..lo+31) into one exact int64 in [0, 2^32). */
  private def binHalf(v: Column, lo: Int): Column =
    aggregate(
      transform(sequence(lit(lo), lit(lo + 31)),
        // 2^(i-lo) via pow: exact for exponents <= 31, same int64 the
        // oracle's `1::BIGINT << (i-lo)` produces
        i => when(binBit(v, i),
          pow(lit(2.0d), (i - lo).cast("double")).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)

  private def binEncoded(e0: DataFrame): DataFrame = {
    val e = e0.withColumn("v", scaled(col("embedding")))
    e.crossJoin(broadcast(binThresholds(e)))
      .select(col("vec_id"), col("embedding"),
        binHalf(col("v"), 1).as("b_lo"), binHalf(col("v"), 33).as("b_hi"))
  }

  def qAnnBinaryEncode(s: SparkSession, dir: String): DataFrame =
    binEncoded(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("b_lo"), col("b_hi"))
      .orderBy(col("vec_id"))

  private val binSqlCtes: String = {
    def half(lo: Int) =
      s"""CAST(list_sum(list_transform(range($lo, ${lo + 32}),
         |      i -> CASE WHEN v[i] * n_vecs > sums[i] THEN 1::BIGINT << (i - $lo) ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |th AS (
       |  SELECT list(s ORDER BY dim) AS sums, (SELECT count(*) FROM e) AS n_vecs
       |  FROM (SELECT dim, sum(x) AS s
       |        FROM (SELECT unnest(range(1, $Dim+1)) AS dim, unnest(v) AS x FROM e)
       |        GROUP BY dim)),
       |enc AS (
       |  SELECT vec_id, embedding, ${half(1)} AS b_lo, ${half(33)} AS b_hi
       |  FROM e, th)""".stripMargin
  }

  val qAnnBinaryEncodeSql: String =
    s"""WITH $binSqlCtes
       |SELECT vec_id, b_lo, b_hi FROM enc ORDER BY vec_id""".stripMargin

  /** Hamming shortlist (top-`r`) + exact cosine rerank (top-`k`). */
  def binarySearch(e0: DataFrame, queryId: Long, k: Int, r: Int = 50): DataFrame = {
    val enc = binEncoded(e0)
    val q = enc.filter(col("vec_id") === queryId)
      .select(col("b_lo").as("q_lo"), col("b_hi").as("q_hi"),
        col("embedding").as("qe"))
    enc.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"), col("qe"),
        (bit_count(col("b_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("b_hi").bitwiseXOR(col("q_hi")))).as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(r)
      .select(col("vec_id"), col("hamming"),
        cosine(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  def qAnnBinarySearch(s: SparkSession, dir: String): DataFrame =
    binarySearch(Tables.embeddings(s, dir), 0L, 10)

  val qAnnBinarySearchSql: String =
    s"""WITH $binSqlCtes,
       |q AS (SELECT b_lo AS q_lo, b_hi AS q_hi, embedding AS qe FROM enc WHERE vec_id = 0),
       |short AS (
       |  SELECT vec_id, embedding, qe,
       |    bit_count(xor(b_lo, q_lo)) + bit_count(xor(b_hi, q_hi)) AS hamming
       |  FROM enc, q
       |  WHERE vec_id <> 0
       |  ORDER BY hamming, vec_id
       |  LIMIT 50)
       |SELECT vec_id, hamming, ${cosineSql("embedding", "qe")} AS cos
       |FROM short
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  // --------------------------------------------------------- matryoshka --

  /** Matryoshka / prefix-dimension search (Kusupati et al. 2022's serving
    * trick): shortlist on the FIRST `dPrefix` dimensions' cosine — a 4×
    * cheaper scan when embeddings are trained nested, and the form a
    * dimension-truncated index stores — then rerank the shortlist with
    * full-dimension exact cosine. The same scan/rerank split as the
    * PQ/SQ ladder, on the dimension axis instead of the quantization
    * axis; all arithmetic stays in the exact scaled-int contract.
    */
  def matryoshkaSearch(e: DataFrame, queryId: Long, k: Int,
      dPrefix: Int = MatryoshkaDim, shortlist: Int = 50): DataFrame = {
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val short = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("qe"),
        cosine(slice(col("embedding"), 1, dPrefix),
          slice(col("qe"), 1, dPrefix)).as("pcos"))
      .orderBy(col("pcos").desc, col("vec_id")).limit(shortlist)
    short.select(col("vec_id"), col("pcos"),
        cosine(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  private val MatryoshkaDim = 16

  def qAnnMatryoshka(s: SparkSession, dir: String): DataFrame =
    matryoshkaSearch(Tables.embeddings(s, dir), 0L, 10)

  val qAnnMatryoshkaSql: String = {
    def pfx(c: String) = s"list_slice($c, 1, $MatryoshkaDim)"
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT vec_id, embedding, qe,
       |        ${cosineSql(pfx("embedding"), pfx("qe"))} AS pcos
       |      FROM embeddings, q
       |      WHERE vec_id <> 0
       |      ORDER BY pcos DESC, vec_id
       |      LIMIT 50)
       |SELECT vec_id, pcos, ${cosineSql("embedding", "qe")} AS cos
       |FROM s
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  // ------------------------------------------------------------ knn join --

  /** Batched exact k-NN JOIN — the many-queries form of nearest-neighbor
    * search (dedup candidate mining, recall evaluation, cross-corpus
    * linking all run this, not one query at a time). The query set
    * broadcasts into the corpus scan and the per-query top-k runs through
    * [[graft.plans.TopKAggregator]] — a bounded k-element list per
    * (query × partition) partial-aggregates map-side, so the corpus is
    * scanned ONCE for all queries, no per-query job, no window sort, and
    * only |Q|·k rows ever cross the exchange. Distance is squared L2 over
    * 2^20-scaled ints — an exact int64 ((2^21)^2 · 64 < 2^48), stored
    * NEGATED so the aggregator's value-DESC order means nearest-first.
    */
  def knnJoin(e: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.plans.TopKAggregator(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
    val corpus = e.select(col("vec_id"), col("embedding"))
    val qs = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    corpus.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        graft.plans.NegSqDistExpr.negSqDist(col("embedding"), col("qe")).as("nd"),
        col("vec_id"))
      .groupBy(col("q_id"))
      .agg(topk(col("nd"), col("vec_id")).as("knn"))
      .orderBy(col("q_id"))
  }

  def qAnnKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    knnJoin(e, e.filter(col("vec_id") < 5), 5)
  }

  /** [[knnJoin]] as ONE global aggregation ([[graft.plans.KnnBatchAggregator]]):
    * no |corpus|·|Q| join stream at all — every partition keeps a bounded
    * k-list per query and each corpus row updates all of them in one
    * primitive loop over the prescaled query matrix. Same result string,
    * same oracle; the r10 sf1 pair put the join form at 14.2 s (the
    * row-at-a-time join machinery over 32M pair rows), this form removes
    * that stream entirely. |Q| must be driver-bounded (collected once) —
    * the same assumption the join form's broadcast makes.
    */
  def knnJoinBatched(e: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // the |Q|-is-driver-bounded contract, enforced: collect at most cap+1
    // rows so an unbounded query set fails with a clear message instead of
    // a driver OOM (the join form wants nnDescent for corpus-sized Q)
    val qArr = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].limit(MaxBatchQueries + 1).collect().sortBy(_._1)
    require(qArr.length <= MaxBatchQueries,
      s"knnJoinBatched query set exceeds $MaxBatchQueries rows — " +
        "batch the queries or build the full graph with nnDescent")
    // join-form parity: zero queries -> zero result rows, not a
    // driver-side aggregator exception
    if (qArr.isEmpty) return Seq.empty[(Long, String)].toDF("q_id", "knn")
    // prescale ONCE on the driver and broadcast the long matrix — tasks
    // deserialize only the cheap broadcast handle and never rerun the
    // |Q|·dim scaling loop (the raw-float form recomputed it per task)
    val qBc = s.sparkContext.broadcast(
      qArr.map { case (id, v) => (id, graft.plans.KnnBatchAggregator.prescale(v)) })
    val agg = udaf(new graft.plans.KnnBatchAggregator(qBc, k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Array[Float])]())
    // the result is |Q|-bounded by contract — materialize it so the
    // broadcast can be destroyed HERE instead of leaking per invocation
    // (bench loops and per-micro-batch callers accumulate them otherwise)
    val out = e.select(col("vec_id"), col("embedding"))
      .agg(agg(col("vec_id"), col("embedding")).as("m"))
      .select(explode(col("m")).as(Seq("q_id", "knn")))
      // join-form parity: a query with NO neighbors (corpus of one) gets
      // no group row there; drop its empty-list entry here too
      .filter(col("knn") =!= "")
      .orderBy(col("q_id"))
      .as[(Long, String)].collect()
    qBc.destroy()
    out.toSeq.toDF("q_id", "knn")
  }

  /** Hard |Q| cap for [[knnJoinBatched]]: 64k queries × 64 dims × 8 B of
    * prescaled longs is a ~32 MB broadcast and a |partitions|·|Q|·k merge
    * state — comfortably driver-bounded; beyond it the per-row update
    * loop itself stops being the cheap path.
    */
  private val MaxBatchQueries = 65536

  /** Non-trivial batch (|Q| = 500): the benched form — at |Q|=5 the join is
    * all per-stage floor; 500 queries x corpus is where the per-pair
    * distance loop dominates, and the aggregation form wins by never
    * materializing the pair stream.
    */
  def qAnnKnnJoinBatch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    knnJoinBatched(e, e.filter(col("vec_id") < 500), 5)
  }

  private def knnJoinSql(nQ: Int, k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQ),
       |d AS (
       |  SELECT q_id, vec_id,
       |    CAST(-list_sum(list_transform(range(1, $Dim+1),
       |      i -> (v[i] - qv[i]) * (v[i] - qv[i]))) AS BIGINT) AS nd
       |  FROM e, q
       |  WHERE vec_id <> q_id)
       |SELECT q_id,
       |  string_agg(CAST(nd AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR), '|'
       |             ORDER BY nd DESC, vec_id) AS knn
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY nd DESC, vec_id) AS rn FROM d)
       |WHERE rn <= $k
       |GROUP BY q_id
       |ORDER BY q_id""".stripMargin

  val qAnnKnnJoinSql: String = knnJoinSql(5, 5)
  val qAnnKnnJoinBatchSql: String = knnJoinSql(500, 5)

  // ------------------------------------------------------------ graph ann --

  /** Exact R-NN graph as an edge list — [[knnJoin]] exploded to
    * `(u, rank, v, nd)` rows. This is the quadratic BUILD path (every
    * pair scored once, corpus scanned once, |V|·R edges out), the right
    * tool for bounded node sets: an IVF cell, a shard, the oracle's
    * capped corpus. The linear-at-scale builder is [[nnDescent]].
    */
  def knnGraphEdges(e: DataFrame, r: Int): DataFrame = knnEdges(e, e, r)

  /** [[knnJoin]] exploded to `(u, rank, v, nd)` edge rows — the edge-list
    * form of an exact top-`r` scan of `e` for each of `queries`.
    */
  private def knnEdges(e: DataFrame, queries: DataFrame, r: Int): DataFrame =
    explodeKnn(knnJoin(e, queries, r).withColumnRenamed("q_id", "u"))

  /** `(u, "nd:id|…")` rows exploded to `(u, rank, v, nd)` edge rows. */
  private def explodeKnn(kn: DataFrame): DataFrame =
    kn.select(col("u"), posexplode(split(col("knn"), "\\|")).as(Seq("i", "p")))
      .select(col("u"), (col("i") + 1).cast("long").as("rank"),
        split(col("p"), ":").getItem(1).cast("long").as("v"),
        split(col("p"), ":").getItem(0).cast("long").as("nd"))

  /** NN-descent (Dong et al. 2011) — the linear-ish distributed k-NN-graph
    * build, the piece that makes graph ANN viable at 100 TB where
    * [[knnGraphEdges]]'s all-pairs scoring cannot run: start every node
    * with R ring neighbors (ids are cluster-shuffled in this corpus, so
    * the ring is an effectively random init, and unlike a seeded RNG it
    * is reproducible in SQL), then for a driver-bounded number of rounds
    * refine each node's list to the R nearest among its current edges
    * plus all two-hop candidates through the UNDIRECTED edge set
    * (neighbors-of-neighbors — the NN-descent exchange step).
    *
    * Per round: one self-join on the bounded-degree edge list (fan-out
    * <= (2R)^2 per node, never all-pairs), two hash joins to fetch the
    * endpoint vectors, one bounded window top-R (groups <= R + 4R^2
    * rows). Everything is exact scaled-int distance ([[graft.plans.NegSqDistExpr]])
    * with vec_id-asc tie-break, so the converged lists are a pure
    * function of the input and the oracle replays the rounds verbatim.
    */
  def nnDescent(e: DataFrame, r: Int = GraphR, rounds: Int = 2,
      stride: Int = 1): DataFrame = {
    require(r >= 1 && rounds >= 1 && stride >= 1,
      s"bad nn-descent params r=$r rounds=$rounds stride=$stride")
    // stride > 1 builds the graph of a LAYER (the HNSW upper-level role):
    // members are the vec_id % stride == 0 subset and the ring init runs
    // over member RANKS (vec_id / stride), so every init edge lands on a
    // member — a raw id-ring would scatter most of its edges onto
    // non-members and start the descent from a near-empty graph
    val m = if (stride == 1) e else e.filter(pmod(col("vec_id"), lit(stride)) === 0)
    // an irregular-id corpus (no vec_id divisible by stride) would make
    // max() NULL and the ring init meaningless — fail by name, not NPE
    val maxRow = m.agg(max(col("vec_id"))).head()
    require(!maxRow.isNullAt(0),
      s"nnDescent(stride=$stride): no vec_id divisible by $stride in the " +
        "corpus — the layer member set is empty")
    val n = maxRow.getLong(0) / stride + 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("nd").desc, col("v"))
    def scored(pool: DataFrame): DataFrame = {
      val eu = m.select(col("vec_id").as("u"), col("embedding").as("ue"))
      val ev = m.select(col("vec_id").as("v"), col("embedding").as("ve"))
      pool.join(eu, Seq("u")).join(ev, Seq("v"))
        .select(col("u"), col("v"),
          graft.plans.NegSqDistExpr.negSqDist(col("ue"), col("ve")).as("nd"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= r)
    }
    var edges: DataFrame = m
      .select(col("vec_id").as("u"), explode(sequence(lit(1L), lit(r.toLong))).as("j"))
      .select(col("u"),
        (pmod((col("u") / stride).cast("long") + col("j"), lit(n)) * stride).as("v"))
      .filter(col("u") =!= col("v"))
    for (_ <- 1 to rounds) {
      // und IS deduped before the two-hop join: mutual edges would
      // otherwise appear on both sides and ~4x the fof fan-out — measured
      // strictly worse at sf1 than the exchange the distinct costs
      val und = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v"))).distinct()
      val fof = und.as("a").join(und.as("b"), col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"))
        .filter(col("u") =!= col("v"))
      edges = scored(edges.select(col("u"), col("v")).union(fof).distinct())
        .select(col("u"), col("v"))
    }
    scored(edges).select(col("u"), col("rank"), col("v"), col("nd"))
  }

  /** Beam search over a prebuilt neighbor graph — the graph-ANN serving
    * path. Driver-bounded layered expansion: start from the `nEntry`
    * smallest non-query node ids, then for `rounds` layers expand the
    * current top-`beam` visited nodes through their graph edges, score
    * the newly reached nodes exactly against the query, and keep the
    * best `beam`. Returns the top `k` visited as `(rank, vec_id, nd)` —
    * distances are exact scaled-int L2 throughout, so the "rerank" is
    * built in and the whole trace is deterministic (vec_id tie-breaks).
    *
    * The driver holds only the visited frontier (<= nEntry +
    * rounds·beam·R ids); per-layer work is a broadcast-pruned edge
    * lookup plus a |frontier|-row exact scoring pass — the graph and the
    * corpus stay distributed, which is the point: at 100 TB the index is
    * the big object, a search touches O(beam·R·rounds) of it.
    */
  def graphBeamSearch(graph: DataFrame, e: DataFrame, queryId: Long, k: Int,
      beam: Int = GraphBeamW, rounds: Int = GraphBeamRounds,
      nEntry: Int = GraphEntries, entryIds: Option[Seq[Long]] = None,
      queryVec: Option[Array[Float]] = None,
      lookup: Option[Seq[Long] => DataFrame] = None,
      entryDists: Option[Seq[(Long, Long)]] = None): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // queryVec lets a layered caller search a SUBSET corpus (an upper
    // HNSW layer) the query node itself is not a member of
    val qvec = queryVec.getOrElse(
      e.filter(col("vec_id") === queryId)
        .select(col("embedding")).head().getSeq[Float](0).toArray)
    // lookup overrides the in-memory `graph` with a PRUNED edge fetch (the
    // staged-artifact probe path: only the frontier's bucket partitions are
    // read); the query-node exclusion applies to either source
    lazy val g = graph.filter(col("u") =!= queryId && col("v") =!= queryId)
    def edgesOf(ids: Seq[Long]): DataFrame = lookup match {
      case Some(f) => f(ids).filter(col("u") =!= queryId && col("v") =!= queryId)
      case None => g.filter(col("u").isin(ids: _*))
    }
    def distsOf(ids: Seq[Long]): Seq[(Long, Long)] = // (id, nd)
      e.filter(col("vec_id").isin(ids: _*) && col("vec_id") =!= queryId)
        .select(col("vec_id"),
          graft.plans.NegSqDistExpr.negSqDist(col("embedding"), typedLit(qvec)).as("nd"))
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
    // default entries = smallest non-query ids (the oracle-replayable
    // rule); callers with a coarse layer (cluster heads, a stride sample
    // — the HNSW upper-levels role) pass entryIds explicitly.
    // entryDists short-circuits the seed re-score job entirely: a layered
    // caller already HOLDS the exact (id, nd) pairs from the layer above
    // (distances are query↔node, layer-independent), so re-deriving them
    // here was one pure-overhead Spark job per layer — values must be the
    // same exact scaled-int negSqDist this function computes.
    val visited = scala.collection.mutable.Map[Long, Long]() ++=
      entryDists.getOrElse {
        val entry = entryIds.getOrElse(
          e.filter(col("vec_id") =!= queryId).select(col("vec_id"))
            .orderBy(col("vec_id")).limit(nEntry).collect().map(_.getLong(0)).toSeq)
        distsOf(entry)
      }
    for (_ <- 1 to rounds) {
      val beamIds = visited.toSeq.sortBy { case (id, nd) => (-nd, id) }
        .take(beam).map(_._1)
      val nbrs = edgesOf(beamIds)
        .select(col("v")).distinct().collect().map(_.getLong(0))
        .filterNot(visited.contains).toSeq
      if (nbrs.nonEmpty) visited ++= distsOf(nbrs)
    }
    visited.toSeq.map { case (id, nd) => (nd, id) }
      .sortBy { case (nd, id) => (-nd, id) }.take(k)
      .zipWithIndex.map { case ((nd, id), i) => (i + 1L, id, nd) }
      .toDF("rank", "vec_id", "nd")
  }

  private val GraphR = 8
  private val GraphCap = 2000L // oracle-side corpus cap for the quadratic build
  private val GraphBeamW = 8
  private val GraphBeamRounds = 3
  private val GraphEntries = 2

  def qAnnGraphBuild(s: SparkSession, dir: String): DataFrame =
    knnGraphEdges(Tables.embeddings(s, dir).filter(col("vec_id") < GraphCap), GraphR)
      .orderBy(col("u"), col("rank"))

  private def eCapSql(cap: String): String =
    s"""SELECT vec_id,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings WHERE vec_id < $cap""".stripMargin

  private val pairNdSql: String =
    s"""CAST(-list_sum(list_transform(range(1, $Dim+1),
       |      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS BIGINT)""".stripMargin

  val qAnnGraphBuildSql: String =
    s"""WITH e AS (${eCapSql(GraphCap.toString)}),
       |d AS (SELECT a.vec_id AS u, b.vec_id AS v, $pairNdSql AS nd
       |      FROM e a JOIN e b ON a.vec_id <> b.vec_id)
       |SELECT u, rk AS rank, v, nd
       |FROM (SELECT *, row_number() OVER (PARTITION BY u ORDER BY nd DESC, v) AS rk FROM d)
       |WHERE rk <= $GraphR
       |ORDER BY u, rank""".stripMargin

  def qAnnNnDescent(s: SparkSession, dir: String): DataFrame =
    nnDescent(Tables.embeddings(s, dir)).orderBy(col("u"), col("rank"))

  val qAnnNnDescentSql: String = {
    // one NN-descent round as SQL: und -> two-hop candidates -> pool ->
    // exact distances -> per-node top-R (mirrors the Spark loop verbatim)
    def round(prev: String, cur: String): String =
      s"""und_$cur AS (SELECT u, v FROM $prev UNION SELECT v AS u, u AS v FROM $prev),
         |fof_$cur AS (SELECT DISTINCT a.u, b.v
         |             FROM und_$cur a JOIN und_$cur b ON a.v = b.u WHERE a.u <> b.v),
         |pool_$cur AS (SELECT u, v FROM $prev UNION SELECT u, v FROM fof_$cur),
         |d_$cur AS (SELECT p.u, p.v, $pairNdSql AS nd
         |           FROM pool_$cur p JOIN e a ON p.u = a.vec_id JOIN e b ON p.v = b.vec_id),
         |$cur AS (SELECT u, v, nd, row_number() OVER (PARTITION BY u ORDER BY nd DESC, v) AS rk
         |         FROM d_$cur)""".stripMargin
    s"""WITH e AS (${eCapSql("9223372036854775807")}),
       |n AS (SELECT max(vec_id) + 1 AS n FROM e),
       |init AS (SELECT e.vec_id AS u, (e.vec_id + t.j) % n.n AS v
       |         FROM e, n, generate_series(1, $GraphR) AS t(j)
       |         WHERE e.vec_id <> (e.vec_id + t.j) % n.n),
       |${round("init", "r1")},
       |e1 AS (SELECT u, v FROM r1 WHERE rk <= $GraphR),
       |${round("e1", "r2")}
       |SELECT u, rk AS rank, v, nd FROM r2 WHERE rk <= $GraphR
       |ORDER BY u, rank""".stripMargin
  }

  def qAnnGraphSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < GraphCap)
    graphBeamSearch(knnGraphEdges(e, GraphR), e, queryId = 0L, k = 5)
  }

  val qAnnGraphSearchSql: String = {
    // one beam layer: expand the top-W visited through the graph, union
    // the newly reached nodes' exact distances into the visited set
    def layer(prevV: String, curB: String, curV: String): String =
      s"""$curB AS (SELECT vec_id FROM $prevV ORDER BY nd DESC, vec_id LIMIT $GraphBeamW),
         |$curV AS (SELECT vec_id, nd FROM $prevV
         |          UNION SELECT d.vec_id, d.nd
         |          FROM dist d JOIN graph g ON g.v = d.vec_id
         |                      JOIN $curB b ON g.u = b.vec_id)""".stripMargin
    s"""WITH e AS (${eCapSql(GraphCap.toString)}),
       |p AS (SELECT a.vec_id AS u, b.vec_id AS v, $pairNdSql AS nd
       |      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |graph AS (SELECT u, v
       |          FROM (SELECT *, row_number() OVER (PARTITION BY u ORDER BY nd DESC, v) AS rk FROM p)
       |          WHERE rk <= $GraphR AND u <> 0 AND v <> 0),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |dist AS (SELECT e.vec_id,
       |           CAST(-list_sum(list_transform(range(1, $Dim+1),
       |             i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i]))) AS BIGINT) AS nd
       |         FROM e, q WHERE e.vec_id <> 0),
       |v0 AS (SELECT vec_id, nd FROM dist
       |       WHERE vec_id IN (SELECT vec_id FROM e WHERE vec_id <> 0
       |                        ORDER BY vec_id LIMIT $GraphEntries)),
       |${layer("v0", "b1", "v1")},
       |${layer("v1", "b2", "v2")},
       |${layer("v2", "b3", "v3")}
       |SELECT row_number() OVER (ORDER BY nd DESC, vec_id) AS rank, vec_id, nd
       |FROM (SELECT * FROM v3 ORDER BY nd DESC, vec_id LIMIT 5)
       |ORDER BY rank""".stripMargin
  }

  /** HNSW-style layered search — the hierarchy that makes graph ANN
    * entry-point-free: a deterministic exponential layer assignment
    * (node in layer l iff vec_id % stride^l == 0 — the SQL-replayable
    * stand-in for HNSW's geometric level draw) gives a tiny top layer
    * scanned outright (exactly the role of HNSW's upper levels), and
    * each lower layer runs [[graphBeamSearch]] over ITS OWN exact R-NN
    * graph seeded by the layer above's best nodes. All distances exact
    * scaled-int L2 throughout, ties by vec_id, so the full descent
    * trace replays in SQL.
    *
    * Scale shape: layer l holds n/stride^l nodes, so upper-layer graphs
    * are geometrically cheaper than L0's; the query-time work is one
    * |topLayer| scan plus O(layers · beam · R) edge lookups — the
    * hierarchy is what removes [[graphBeamSearch]]'s reliance on a
    * caller-supplied coarse entry layer.
    */
  def hnswSearch(e: DataFrame, queryId: Long, k: Int,
      stride: Int = HnswStride, r: Int = GraphR): DataFrame = {
    val spark = e.sparkSession
    val l2 = e.filter(col("vec_id") % (stride * stride) === 0)
    val l1 = e.filter(col("vec_id") % stride === 0)
    val qvec = e.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // top layer: outright nearest among ~n/stride^2 nodes — (id, nd)
    // collected so the lower stages never re-score their seeds
    val top = l2.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        graft.plans.NegSqDistExpr.negSqDist(col("embedding"), typedLit(qvec)).as("nd"))
      .orderBy(col("nd").desc, col("vec_id")).limit(1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // middle layer: short beam over L1's own graph, seeded from above
    val mid = graphBeamSearch(knnGraphEdges(l1, math.max(r / 2, 1)), l1,
        queryId, k = HnswMidFanout, beam = HnswMidFanout, rounds = 1,
        queryVec = Some(qvec), entryDists = Some(top))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // base layer: full-width beam over the L0 graph, seeded from L1
    graphBeamSearch(knnGraphEdges(e, r), e, queryId, k,
      beam = GraphBeamW, rounds = GraphBeamRounds,
      queryVec = Some(qvec), entryDists = Some(mid))
  }

  private val HnswStride = 4
  private val HnswMidFanout = 2

  def qAnnHnswSearch(s: SparkSession, dir: String): DataFrame =
    hnswSearch(Tables.embeddings(s, dir).filter(col("vec_id") < GraphCap),
      queryId = 0L, k = 5)

  val qAnnHnswSearchSql: String = {
    val s2 = HnswStride * HnswStride
    val rMid = math.max(GraphR / 2, 1)
    def layerGraph(name: String, member: String, rr: Int): String =
      s"""${name}_p AS (SELECT a.vec_id AS u, b.vec_id AS v, $pairNdSql AS nd
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id % $member = 0 AND b.vec_id % $member = 0),
         |$name AS (SELECT u, v
         |  FROM (SELECT *, row_number() OVER (PARTITION BY u ORDER BY nd DESC, v) AS rk
         |        FROM ${name}_p)
         |  WHERE rk <= $rr AND u <> 0 AND v <> 0)""".stripMargin
    def beam(graph: String, prevV: String, curB: String, curV: String,
        member: String, w: Int): String =
      s"""$curB AS (SELECT vec_id FROM $prevV ORDER BY nd DESC, vec_id LIMIT $w),
         |$curV AS (SELECT vec_id, nd FROM $prevV
         |          UNION SELECT d.vec_id, d.nd
         |          FROM dist d JOIN $graph g ON g.v = d.vec_id
         |                      JOIN $curB b ON g.u = b.vec_id
         |          WHERE d.vec_id % $member = 0)""".stripMargin
    s"""WITH e AS (${eCapSql(GraphCap.toString)}),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |dist AS (SELECT e.vec_id,
       |           CAST(-list_sum(list_transform(range(1, $Dim+1),
       |             i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i]))) AS BIGINT) AS nd
       |         FROM e, q WHERE e.vec_id <> 0),
       |top AS (SELECT vec_id, nd FROM dist WHERE vec_id % $s2 = 0
       |        ORDER BY nd DESC, vec_id LIMIT 1),
       |${layerGraph("g1", HnswStride.toString, rMid)},
       |${beam("g1", "top", "b1", "v1", HnswStride.toString, HnswMidFanout)},
       |mid AS (SELECT vec_id, nd FROM v1 ORDER BY nd DESC, vec_id LIMIT $HnswMidFanout),
       |${layerGraph("g0", "1", GraphR)},
       |${beam("g0", "mid", "c1", "w1", "1", GraphBeamW)},
       |${beam("g0", "w1", "c2", "w2", "1", GraphBeamW)},
       |${beam("g0", "w2", "c3", "w3", "1", GraphBeamW)}
       |SELECT row_number() OVER (ORDER BY nd DESC, vec_id) AS rank, vec_id, nd
       |FROM (SELECT * FROM w3 ORDER BY nd DESC, vec_id LIMIT 5)
       |ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------- persisted ann graph --

  private val HnswBuckets = 16
  private val HnswBuildRounds = 2
  private val HnswEf = 16
  private val HnswLevelsMax = 3 // graph layers staged per corpus (L0..L2)

  /** One persisted ANN-graph layer: `(u, v, nd)` edge rows partitioned by
    * `(b, seg)` where `b = u % HnswBuckets` — the same partition-pruned
    * artifact layout as the band and packed term indexes, so an edge
    * lookup for a beam frontier reads only the frontier's bucket
    * partitions, and `seg` is the ingest-segment level that makes appends
    * idempotent ([[graft.operators.Dedup.writeBandIndex]] protocol:
    * per-batch seg + dynamic partition overwrite = a replayed batch
    * replaces its own rows).
    */
  def writeAnnGraphLayer(edges: DataFrame, layerDir: String,
      seg: String = "base", mode: String = "overwrite",
      overwriteSeg: Boolean = false): Unit = {
    val rows = edges.select(col("u"), col("v"), col("nd"))
      .withColumn("b", pmod(col("u"), lit(HnswBuckets)))
      .withColumn("seg", lit(seg))
      .repartition(col("b"))
      .write.partitionBy("b", "seg")
    val w = if (overwriteSeg)
      rows.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else rows.mode(mode)
    w.parquet(layerDir)
  }

  /** Merged per-node view of a persisted graph layer: union of ALL ingest
    * segments, top-`r` edges per node by (nd DESC, v ASC). For a
    * base-only layer this is exactly the stored rows; after
    * [[appendToAnnGraph]] deltas it is the maintained graph — appended
    * candidate edges displace stale base edges per node without any
    * rewrite having happened. Pass `ids` to prune the read to the
    * frontier's bucket partitions (the probe path: O(|ids|) partitions
    * touched, never the whole artifact).
    */
  def readAnnGraphLayer(s: SparkSession, layerDir: String, r: Int,
      ids: Option[Seq[Long]] = None): DataFrame = {
    val raw = s.read.parquet(layerDir)
    val hit = ids match {
      case Some(is) =>
        raw.filter(col("b").isin(is.map(_ % HnswBuckets).distinct: _*) &&
          col("u").isin(is: _*))
      case None => raw
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("nd").desc, col("v"))
    hit.select(col("u"), col("v"), col("nd"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= r).drop("rk")
  }

  /** Partition-pruned edge fetch for [[graphBeamSearch]]'s `lookup` hook. */
  def annGraphLookup(s: SparkSession, layerDir: String, r: Int)(
      ids: Seq[Long]): DataFrame =
    readAnnGraphLayer(s, layerDir, r, Some(ids))

  /** The layered HNSW graph staged ONCE per corpus (the
    * [[graft.operators.TextOps.stagedPackedTermIndex]] protocol: atomic
    * rename, identity keyed on embeddings.parquet size+mtime). Both
    * layers are built with [[nnDescent]] — the linear-ish builder, NOT
    * the quadratic [[knnGraphEdges]] — which is what lets this artifact
    * exist at 100 TB: layer 1 descends over the vec_id % stride == 0
    * members with r/2 edges, layer 0 over the full corpus with r edges,
    * and the tiny stride² top layer needs no graph (it is scanned
    * outright at probe time, the HNSW upper-level role).
    */
  private[graft] def stagedHnswGraph(s: SparkSession, dir: String): String = {
    // v2: also stages the layer-2 graph for the 3-level descent
    Staging.stagedFor("hnsw_graph_v2", dir, "embeddings.parquet") { tmp =>
      val e = Tables.embeddings(s, dir)
      // 2 descent rounds, same as the q_ann_nndescent entry: the ~0.79
      // edge recall this leaves is recovered at PROBE time by a wider
      // base beam (HnswEf, the HNSW efSearch knob — 0.88 -> 0.94 recall
      // on the planted fixture, SimilarityRecallSpec), which costs
      // O(beam·R) per query instead of another all-node exchange round
      // at build. Upper layers shrink geometrically (n/stride^l nodes,
      // r/2^l edges), so the whole hierarchy costs barely more than L0.
      for (l <- (HnswLevelsMax - 1) to 1 by -1)
        writeAnnGraphLayer(
          nnDescent(e, hnswLayerR(l), rounds = HnswBuildRounds,
            stride = math.pow(HnswStride, l).toInt),
          tmp.resolve(s"layer$l").toString)
      writeAnnGraphLayer(nnDescent(e, GraphR, rounds = HnswBuildRounds),
        tmp.resolve("layer0").toString)
    }
  }

  private def hnswLayerR(l: Int): Int = math.max(GraphR >> l, 2)

  /** A persisted HNSW artifact as the descent sees it: the frame each
    * query's top-1 entry is chosen from, the upper layer graphs descended
    * at the mid fan-out (top layer first) and the base layer, each as
    * (layer dir, edges per node).
    */
  private final case class HnswLayers(entry: DataFrame,
      upper: Seq[(String, Int)], base: (String, Int))

  /** The one place an artifact's layers are described. The auto artifact
    * ([[writeHnswAutoArtifact]]) is the one with a `meta` table: its entry
    * frame is the persisted entry table and it has the [[HnswLevelsMax]]
    * levels its meta records (taken from the constant the writer records,
    * so describing it costs no Spark job). The fixed artifact
    * ([[stagedHnswGraph]]) is entered through the `vec_id % stride^levels
    * == 0` members of `e` and descends layers `levels - 1` .. 1.
    */
  private def hnswLayers(s: SparkSession, graphDir: String, e: DataFrame,
      levels: Int): HnswLayers = {
    val meta = new org.apache.hadoop.fs.Path(s"$graphDir/meta")
    val auto = meta.getFileSystem(s.sparkContext.hadoopConfiguration).exists(meta)
    require(auto || (levels >= 1 && levels <= HnswLevelsMax),
      s"hnswProbe supports 1..$HnswLevelsMax graph levels, got $levels")
    val (entry, lv) =
      if (auto) (s.read.parquet(s"$graphDir/entry"), HnswLevelsMax)
      else (e.filter(col("vec_id") % math.pow(HnswStride, levels).toLong === 0), levels)
    HnswLayers(entry,
      ((lv - 1) to 1 by -1).map(l => (s"$graphDir/layer$l", hnswLayerR(l))),
      (s"$graphDir/layer0", GraphR))
  }

  /** [[hnswSearch]] against the PERSISTED layer graphs — the serving path:
    * no graph construction at query time at all. The descent is the same
    * (top-layer scan → upper-layer beams → L0 beam, exact scaled-int
    * distances, vec_id tie-breaks) but every edge expansion is a
    * partition-pruned parquet read of the frontier's buckets via
    * [[annGraphLookup]], so a query touches O(beam·R·rounds) of an
    * artifact that was built once — at 100 TB the probe cost is flat in
    * corpus size while the inline [[hnswSearch]] form rebuilds quadratic
    * layer graphs per query.
    *
    * `graphDir` is either artifact ([[hnswLayers]]). On the fixed one,
    * `levels` picks the depth: the top scan covers n/stride^levels
    * members. The auto artifact's top stage is its ≤[[HnswTopTarget]]-row
    * entry table, so no stage's input grows with n.
    */
  def hnswProbe(s: SparkSession, graphDir: String, e: DataFrame,
      queryId: Long, k: Int, levels: Int = 2): DataFrame = {
    val layers = hnswLayers(s, graphDir, e, levels)
    val qvec = e.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // seeds carry (id, nd): every hand-off below passes the exact
    // distances it already computed, so no layer re-scores its seeds
    var seeds = layers.entry.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        graft.plans.NegSqDistExpr.negSqDist(col("embedding"), typedLit(qvec)).as("nd"))
      .orderBy(col("nd").desc, col("vec_id")).limit(1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // a top layer holding only the query node (tiny/irregular-id corpus)
    // would silently return an empty result — fail by name instead
    require(seeds.nonEmpty,
      s"hnswProbe: the top layer of $graphDir holds no non-query node — " +
        "corpus too small for these levels, probe inline with hnswSearch " +
        "or lower `levels`")
    // descend the staged upper-layer graphs, narrow beam each
    for ((dir, r) <- layers.upper)
      seeds = graphBeamSearch(s.emptyDataFrame, e, queryId,
          k = HnswMidFanout, beam = HnswMidFanout, rounds = 1,
          queryVec = Some(qvec), lookup = Some(annGraphLookup(s, dir, r)),
          entryDists = Some(seeds))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    graphBeamSearch(s.emptyDataFrame, e, queryId, k, beam = HnswEf,
      rounds = GraphBeamRounds, queryVec = Some(qvec),
      lookup = Some(annGraphLookup(s, layers.base._1, layers.base._2)),
      entryDists = Some(seeds))
  }

  def qAnnHnswProbe(s: SparkSession, dir: String): DataFrame =
    hnswProbe(s, stagedHnswGraph(s, dir), Tables.embeddings(s, dir),
      queryId = 0L, k = 5)

  /** The 3-level descent: the top scan drops from n/stride² to
    * n/stride³ members — the multi-level generalization that removes
    * the 2-level form's one corpus-proportional serving term (add
    * levels until the top layer fits a scan; every layer graph stages
    * the same way and shrinks geometrically).
    */
  def qAnnHnswProbe3(s: SparkSession, dir: String): DataFrame =
    hnswProbe(s, stagedHnswGraph(s, dir), Tables.embeddings(s, dir),
      queryId = 0L, k = 5, levels = 3)

  val qAnnHnswProbe3Sql: String =
    s"""${hnswFixedPrefixSql(levels = 3)},
       |${hnswDescentSql(0L, "", levels = 3)}
       |SELECT rank, vec_id, nd FROM res ORDER BY rank""".stripMargin

  // ------------------------------------------ corpus-flat auto hierarchy --

  /** Top-layer size the auto-strided hierarchy guarantees: the entry
    * table never exceeds this many rows, at any corpus size. */
  private[graft] val HnswTopTarget = 64L

  /** Corpus-adaptive stride: the smallest s ≥ 2 with s³·HnswTopTarget ≥ n,
    * by exact integer search (so the SQL oracle recomputes the identical
    * value from count(*)). Fixing the LEVEL count at 3 and solving for
    * the stride bounds the top layer at HnswTopTarget members for ANY
    * corpus size — the dual (fixed stride, corpus-chosen level count) is
    * the same geometry but a per-corpus CTE depth no static oracle can
    * replay; the meta table carries `levels` so a deployment that
    * outgrows stride growth can add layers with the same machinery.
    */
  private[graft] def autoHnswStride(n: Long): Int = {
    val st = Iterator.from(2).find(s => s.toLong * s * s * HnswTopTarget >= n).get
    // Shared envelope with the SQL oracle's range(2, 4097) stride scan —
    // fail by name where the oracle would silently return NULL. 4096 also
    // keeps the layer moduli (st^l, l <= 2) inside Int exactly. Unreachable
    // below ~4.4e15 rows; past it, add a level (meta carries `levels`).
    require(st <= 4096,
      s"autoHnswStride: $n rows needs stride $st > 4096 — add a 4th level")
    st
  }

  /** Write the auto-strided 3-level artifact: nnDescent layer graphs for
    * the %s and %s² member sets, the base layer, a ≤[[HnswTopTarget]]-row
    * ENTRY table holding the %s³ members' vectors (the probe's whole top
    * stage — persisted so serving never scans the corpus), and a one-row
    * meta table (stride, levels, n). Returns the chosen stride.
    */
  def writeHnswAutoArtifact(e: DataFrame, outDir: String): Int = {
    val s = e.sparkSession
    import s.implicits._
    val n = e.select(col("vec_id")).count()
    val st = autoHnswStride(n)
    for (l <- 2 to 1 by -1)
      writeAnnGraphLayer(nnDescent(e, hnswLayerR(l), rounds = HnswBuildRounds,
        stride = math.pow(st.toDouble, l.toDouble).toInt), s"$outDir/layer$l")
    writeAnnGraphLayer(nnDescent(e, GraphR, rounds = HnswBuildRounds),
      s"$outDir/layer0")
    // the entry table is seg-partitioned like the layer graphs so
    // incremental inserts are replay-idempotent (dynamic overwrite of
    // the batch's own segment)
    e.filter(pmod(col("vec_id"), lit(st.toLong * st * st)) === 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("seg", lit("base"))
      .coalesce(1).write.partitionBy("seg").parquet(s"$outDir/entry")
    Seq((st.toLong, HnswLevelsMax.toLong, n)).toDF("stride", "levels", "n")
      .coalesce(1).write.parquet(s"$outDir/meta")
    st
  }

  /** Incremental insert into an auto-strided artifact: the batch wires
    * into every layer graph via [[insertIntoHnswGraph]] at the
    * artifact's OWN stride (read from meta — never the fixed default),
    * and its `vec_id % s³ == 0` members append to the entry table in a
    * batch-keyed segment (replay = dynamic overwrite of that segment).
    * The stride stays what the build solved — the ≤[[HnswTopTarget]]
    * entry bound therefore holds until the corpus grows past s³·64,
    * after which a rebuild re-solves it (standard index-rebuild hygiene;
    * probe CORRECTNESS never depends on the bound, only probe cost).
    */
  def insertIntoHnswAutoGraph(s: SparkSession, graphDir: String,
      newVecs: DataFrame, oldCorpus: DataFrame, seg: String = "append",
      overwriteSeg: Boolean = false): Unit = {
    val st = s.read.parquet(s"$graphDir/meta").head().getAs[Long]("stride")
    insertIntoHnswGraph(s, graphDir, newVecs, oldCorpus, seg, st.toInt,
      overwriteSeg)
    val newEntries = newVecs
      .filter(pmod(col("vec_id"), lit(st * st * st)) === 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("seg", lit(seg))
    if (!newEntries.isEmpty) {
      val w = newEntries.write.partitionBy("seg")
      (if (overwriteSeg)
        w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      else w.mode("append")).parquet(s"$graphDir/entry")
    }
  }

  /** Auto-strided artifact staged once per corpus ([[stagedHnswGraph]]
    * protocol, its own identity key). */
  private[graft] def stagedHnswGraphAuto(s: SparkSession, dir: String): String = {
    // v2: entry table gained its seg partition (idempotent inserts)
    Staging.stagedFor("hnsw_auto_v2", dir, "embeddings.parquet") { tmp =>
      writeHnswAutoArtifact(Tables.embeddings(s, dir), tmp.toString): Unit
    }
  }

  def qAnnHnswAuto(s: SparkSession, dir: String): DataFrame =
    hnswProbe(s, stagedHnswGraphAuto(s, dir), Tables.embeddings(s, dir),
      queryId = 0L, k = 5)

  val qAnnHnswAutoSql: String =
    s"""$hnswAutoPrefixSql,
       |${hnswDescentSql(0L, "", levels = 3, topModExpr = "(SELECT s*s*s FROM st)")}
       |SELECT rank, vec_id, nd FROM res ORDER BY rank""".stripMargin

  /** Batched [[hnswProbe]] — the serving-THROUGHPUT form: |Q| queries
    * descend together, paying ONE distributed job per layer round for the
    * whole batch instead of ~5 jobs per query (at ~0.2 s scheduling floor
    * per job, the per-query form's cost is almost entirely job count).
    * Per round: the union of all queries' beam frontiers drives one
    * partition-pruned edge fetch and one DISTRIBUTED rescore job (the
    * round's (query, candidate) pairs joined to the pruned corpus and the
    * broadcast query vectors, scored by [[graft.plans.NegSqDistExpr]] —
    * the identical rounding contract as [[graft.plans.KnnBatchAggregator]],
    * parity-spec'd); the driver only merges the resulting bounded
    * (q, id, nd) triples into the frontiers, never touching a vector.
    * |Q| is capped like [[knnJoinBatched]] — the frontier bookkeeping is
    * |Q|·beam·R ids per round, driver-bounded by the same argument.
    * Entry selection is one [[knnJoinBatched]] top-1 over the artifact's
    * entry frame ([[hnswLayers]]: the fixed form's stride² members, or the
    * auto artifact's persisted entry table) — one aggregation job for all
    * queries. Output is bit-identical to per-query [[hnswProbe]] on either
    * artifact (SimilarityRecallSpec pins both), as rows
    * `(q_id, rank, vec_id, nd)`.
    */
  def hnswProbeBatched(s: SparkSession, graphDir: String, e: DataFrame,
      queryIds: Seq[Long], k: Int): DataFrame = {
    import s.implicits._
    require(queryIds.nonEmpty && queryIds.distinct.size == queryIds.size,
      "hnswProbeBatched needs a non-empty, duplicate-free query id set")
    require(queryIds.size <= MaxBatchQueries,
      s"hnswProbeBatched query set exceeds $MaxBatchQueries — split the " +
        "batch; the per-round frontier bookkeeping is |Q|-proportional")
    // query vectors live in ONE reusable frame; every rescore job
    // broadcast-joins it, so no query vector is ever collected
    val qIdsDf = broadcast(queryIds.toDF("vec_id"))
    val qEmb = CheckpointScope.local(e.join(qIdsDf, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))) // |Q| rows
    // ONE batched exact top-1 over the entry frame for the whole batch
    val layers = hnswLayers(s, graphDir, e, levels = 2)
    val qDf = e.join(qIdsDf, Seq("vec_id"), "left_semi")
    val entry: Map[Long, (Long, Long)] = // q -> (entry id, nd)
      knnJoinBatched(layers.entry, qDf, 1).collect().map { r =>
        val p = r.getString(1).split(":")
        r.getLong(0) -> (p(1).toLong, p(0).toLong)
      }.toMap
    require(queryIds.forall(entry.contains),
      "hnswProbeBatched: a query found no non-query entry node")
    // visited(q): id -> nd, seeded from the entry
    val visited = queryIds.map(q => q ->
      scala.collection.mutable.Map[Long, Long](
        entry(q)._1 -> entry(q)._2)).toMap
    def layerRounds(layerDir: String, r: Int, w: Int, n: Int): Unit =
      for (_ <- 1 to n) {
        val beams: Map[Long, Seq[Long]] = queryIds.map { q =>
          q -> visited(q).toSeq.sortBy { case (id, d) => (-d, id) }
            .take(w).map(_._1)
        }.toMap
        val union = beams.values.flatten.toSeq.distinct
        // ONE pruned edge fetch for the whole batch's frontier
        val edges = annGraphLookup(s, layerDir, r)(union)
          .select(col("u"), col("v")).collect()
          .map(row => (row.getLong(0), row.getLong(1)))
          .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSeq }
        val wanted: Map[Long, Seq[Long]] = queryIds.map { q =>
          q -> beams(q).filter(_ != q).flatMap(edges.getOrElse(_, Nil))
            .distinct.filter(id => id != q && !visited(q).contains(id))
        }.toMap
        // ONE distributed rescore job for everything newly reached this
        // round — the driver gets back only (q, id, nd) triples
        val pairs = wanted.toSeq.flatMap { case (q, ids) => ids.map((q, _)) }
        for ((q, id, d) <- rescorePairs(e, qEmb, pairs))
          visited(q)(id) = d
      }
    def trim(w: Int): Unit = for (q <- queryIds) {
      val keep = visited(q).toSeq.sortBy { case (id, d) => (-d, id) }.take(w)
      visited(q).clear(); visited(q) ++= keep
    }
    for ((dir, r) <- layers.upper) {
      layerRounds(dir, r, HnswMidFanout, 1)
      // keep only each query's mid fan-out as seeds for the next level
      trim(HnswMidFanout)
    }
    layerRounds(layers.base._1, layers.base._2, HnswEf, GraphBeamRounds)
    // the result below is built from driver-side triples — qEmb's
    // checkpoint blocks are dead; a long-lived serving session issuing
    // many batches must not accumulate |Q|-row blocks per call
    CheckpointScope.release(qEmb)
    queryIds.flatMap { q =>
      visited(q).toSeq.sortBy { case (id, d) => (-d, id) }.take(k)
        .zipWithIndex.map { case ((id, d), i) => (q, i + 1L, id, d) }
    }.toDF("q_id", "rank", "vec_id", "nd")
      .orderBy(col("q_id"), col("rank"))
  }

  /** The batched probe's per-round rescore as ONE Spark job: the round's
    * (query, candidate) pairs join the corpus (isin-pruned while the
    * candidate set is small — the common serving frontier — a plain
    * scan-join beyond that, which is the honest plan at large |Q|) and
    * the broadcast query-vector frame, and every distance is a
    * codegen'd [[graft.plans.NegSqDistExpr]] on the EXECUTORS. The
    * driver never sees a vector or runs a distance loop — PlanShapeSpec
    * pins the plan shape at |Q|=500.
    */
  private[graft] def rescorePairs(e: DataFrame, qEmb: DataFrame,
      pairs: Seq[(Long, Long)]): Array[(Long, Long, Long)] = {
    if (pairs.isEmpty) return Array.empty
    rescorePlan(e, qEmb, pairs)
      .as(org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .collect()
  }

  private[graft] def rescorePlan(e: DataFrame, qEmb: DataFrame,
      pairs: Seq[(Long, Long)]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val pDf = pairs.toDF("q_id", "vec_id")
    val cands = pairs.map(_._2).distinct
    val corpus = if (cands.size <= RescoreIsinCap)
      e.filter(col("vec_id").isin(cands: _*)) else e
    corpus.select(col("vec_id"), col("embedding"))
      .join(pDf, Seq("vec_id"))
      .join(broadcast(qEmb), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.plans.NegSqDistExpr.negSqDist(col("embedding"), col("qe")).as("nd"))
  }

  /** Above this many distinct round candidates the rescore stops
    * enumerating an isin literal (row-group pruning pays until here) and
    * joins against the full corpus scan instead.
    */
  private val RescoreIsinCap = 8192

  // --------------------------------------------- ann graph maintenance --

  /** Exact R-NN graph persisted in the layer layout — the maintainable
    * base artifact: [[appendToAnnGraph]] wires new batches in append-only,
    * [[deleteFromAnnGraph]] erases nodes with exact replenishment,
    * [[compactAnnGraph]] collapses accumulated segments. For corpora where
    * the quadratic exact build can't run, build with [[nnDescent]] +
    * [[writeAnnGraphLayer]] instead — the same layout, the same
    * maintenance ops (deltas merge identically; only the
    * rebuilt-equals-maintained equality proof is specific to exact bases).
    */
  def writeAnnGraph(corpus: DataFrame, indexDir: String, r: Int = GraphR): Unit =
    writeAnnGraphLayer(knnGraphEdges(corpus, r), indexDir)

  /** Incremental insert — one append-only delta segment, no rewrite of the
    * base: (a) the new nodes' exact top-`r` lists over old ∪ new (ONE
    * corpus scan, batch broadcast, bounded k-lists map-side — the
    * [[knnJoin]] machinery); (b) per OLD node its top-`r` candidates
    * among the new batch alone (ONE more corpus scan against the
    * broadcast batch). The [[readAnnGraphLayer]] merge view then EQUALS
    * the from-scratch exact graph of old ∪ new: an old node's true top-R
    * is a subset of (its stored top-R over old) ∪ (its top-r among new),
    * and a new node's list is exact by (a). IndexMaintenanceSpec pins the
    * equality edge-for-edge. Per-batch cost: two corpus scans, zero index
    * reads — the batch-keyed `seg` + `overwriteSeg` makes replays
    * idempotent exactly as [[graft.operators.Dedup.appendBandIndex]].
    */
  def appendToAnnGraph(s: SparkSession, indexDir: String, newVecs: DataFrame,
      oldCorpus: DataFrame, r: Int = GraphR, seg: String = "append",
      overwriteSeg: Boolean = false): Unit = {
    val full = oldCorpus.select(col("vec_id"), col("embedding"))
      .unionByName(newVecs.select(col("vec_id"), col("embedding")))
    val newEdges = knnEdges(full, newVecs, r)
    val topk = udaf(new graft.plans.TopKAggregator(r),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
    val nb = broadcast(newVecs.select(col("vec_id").as("v"), col("embedding").as("ve")))
    val oldToNew = explodeKnn(
      oldCorpus.select(col("vec_id").as("u"), col("embedding").as("ue"))
        .join(nb, col("u") =!= col("v"))
        .select(col("u"),
          graft.plans.NegSqDistExpr.negSqDist(col("ue"), col("ve")).as("nd"), col("v"))
        .groupBy(col("u")).agg(topk(col("nd"), col("v")).as("knn")))
    writeAnnGraphLayer(newEdges.unionByName(oldToNew), indexDir, seg,
      mode = "append", overwriteSeg = overwriteSeg)
  }

  /** Delete nodes from a persisted exact graph — the erasure path
    * ([[graft.operators.Dedup.deleteFromBandIndex]] role). Deleted nodes'
    * own rows and every edge INTO them drop; survivors that referenced a
    * deleted node (found by one id-column scan of the graph — |V|·R ids,
    * never the corpus) get their lists recomputed EXACTLY over the
    * survivor corpus; every other node's list is provably already exact
    * (nothing it kept was removed, and removals cannot bring anyone
    * closer). Rewritten via tmp + node-count verify + atomic swap, and
    * the result equals the from-scratch graph of the survivors.
    */
  def deleteFromAnnGraph(s: SparkSession, indexDir: String, delIds: Seq[Long],
      survivors: DataFrame, r: Int = GraphR): Unit = {
    require(delIds.nonEmpty, "deleteFromAnnGraph: empty delete set")
    val merged = readAnnGraphLayer(s, indexDir, r)
    val affected = merged
      .filter(col("v").isin(delIds: _*) && !col("u").isin(delIds: _*))
      .select(col("u")).distinct().collect().map(_.getLong(0)).toSeq
    val keep = merged.filter(!col("u").isin(delIds: _*) && !col("v").isin(delIds: _*))
    val kept = if (affected.isEmpty) keep else keep.filter(!col("u").isin(affected: _*))
    val rows = if (affected.isEmpty) kept
      else kept.unionByName(
        knnEdges(survivors, survivors.filter(col("vec_id").isin(affected: _*)), r)
          .select(col("u"), col("v"), col("nd")))
    val expect = merged.filter(!col("u").isin(delIds: _*))
      .select(col("u")).distinct().count()
    rewriteAnnGraph(s, indexDir, rows.select(col("u"), col("v"), col("nd")), expect)
  }

  /** Collapse a graph layer's accumulated delta segments into one `base`
    * segment holding the MERGED top-`r` lists — the small-file/stale-row
    * compaction ([[graft.operators.Dedup.compactBandIndex]] role). The
    * merge view is unchanged by construction; displaced delta rows are
    * physically dropped. `preserveSegs` keeps the named segments'
    * identity through the rewrite (their SURVIVING rows keep their seg
    * value) — a streaming auto-compact must preserve the just-appended
    * batch's segment or a crash-replay of that batch would find its rows
    * renamed into `base` and dynamic-overwrite nothing, duplicating the
    * delta.
    */
  def compactAnnGraph(s: SparkSession, indexDir: String, r: Int = GraphR,
      preserveSegs: Set[String] = Set.empty): Unit = {
    val raw = s.read.parquet(indexDir)
    val expect = raw.select("u").distinct().count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("nd").desc, col("v"))
    val segOut = if (preserveSegs.isEmpty) lit("base")
      else when(col("seg").isin(preserveSegs.toSeq: _*), col("seg"))
        .otherwise(lit("base"))
    val merged = raw.select(col("u"), col("v"), col("nd"), segOut.as("segv"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= r).drop("rk")
    val hPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".compacting")
    fs.delete(tmp, true)
    merged.withColumn("b", pmod(col("u"), lit(HnswBuckets)))
      .withColumnRenamed("segv", "seg")
      .repartition(col("b"))
      .write.partitionBy("b", "seg").mode("overwrite").parquet(tmp.toString)
    val got = s.read.parquet(tmp.toString).select("u").distinct().count()
    require(got == expect,
      s"compacted ann graph holds $got of $expect nodes — swap refused")
    val bak = new org.apache.hadoop.fs.Path(indexDir + ".compact-bak")
    fs.delete(bak, true)
    require(fs.rename(hPath, bak), s"could not move $indexDir aside")
    require(fs.rename(tmp, hPath), s"could not move compacted graph into place")
    fs.delete(bak, true): Unit
  }

  /** tmp-rewrite + node-count verify + atomic swap (the
    * [[graft.operators.Dedup.compactBandIndex]] protocol; row counts
    * legitimately change as deltas merge away, so the invariant checked
    * is the node set's size).
    */
  private def rewriteAnnGraph(s: SparkSession, indexDir: String,
      rows: DataFrame, expectNodes: Long): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".compacting")
    fs.delete(tmp, true)
    writeAnnGraphLayer(rows, tmp.toString)
    val got = s.read.parquet(tmp.toString).select("u").distinct().count()
    require(got == expectNodes,
      s"rewritten ann graph holds $got of $expectNodes nodes — swap refused")
    val bak = new org.apache.hadoop.fs.Path(indexDir + ".compact-bak")
    fs.delete(bak, true)
    require(fs.rename(hPath, bak), s"could not move $indexDir aside")
    require(fs.rename(tmp, hPath), s"could not move rewritten graph into place")
    fs.delete(bak, true): Unit
  }

  /** Layer-aware insert into a staged [[stagedHnswGraph]] artifact: the
    * batch lands in layer 0 always and its `vec_id % stride == 0` members
    * in layer 1 too. On the nnDescent-built staged layers the delta's
    * exact candidate edges can only IMPROVE a node's merged list (top-R
    * by distance), so probe recall is monotone in inserts.
    */
  def insertIntoHnswGraph(s: SparkSession, graphDir: String, newVecs: DataFrame,
      oldCorpus: DataFrame, seg: String = "append",
      stride: Int = HnswStride, overwriteSeg: Boolean = false): Unit = {
    // overwriteSeg rides through to every layer append so a crash-retry
    // replaying the same batch dynamic-overwrites its own segment instead
    // of duplicating delta rows (duplicate (u,v,nd) rows each take a
    // row_number slot in the merge view and evict distinct edges)
    appendToAnnGraph(s, s"$graphDir/layer0", newVecs, oldCorpus, GraphR, seg,
      overwriteSeg)
    for (l <- 1 until HnswLevelsMax
        if new java.io.File(s"$graphDir/layer$l").isDirectory) {
      val m = pmod(col("vec_id"), lit(math.pow(stride, l).toLong)) === 0
      val newL = newVecs.filter(m)
      if (!newL.isEmpty)
        appendToAnnGraph(s, s"$graphDir/layer$l", newL, oldCorpus.filter(m),
          hnswLayerR(l), seg, overwriteSeg)
    }
  }

  /** NN-descent replay CTEs for one layer (`vec_id % member == 0` subset,
    * ring init over member ranks, `rounds` refinement rounds) — the SQL
    * twin of [[nnDescent]]'s stride form, prefix-namespaced so two layers
    * compose in one WITH. Emits `${pfx}g(u, v)`, the converged edge list.
    */
  private def ndReplaySql(pfx: String, member: Int, r: Int, rounds: Int): String =
    ndReplaySqlExpr(pfx, member.toString, r, rounds)

  /** [[ndReplaySql]] with the member modulus as a SQL EXPRESSION — the
    * auto-strided artifact computes its stride from the corpus size
    * inside the query (a scalar subquery over the `st` CTE), so the same
    * static oracle string replays correctly at every scale.
    */
  private def ndReplaySqlExpr(pfx: String, member: String, r: Int, rounds: Int): String = {
    def round(prev: String, cur: String): String =
      s"""${pfx}und_$cur AS (SELECT u, v FROM $prev UNION SELECT v AS u, u AS v FROM $prev),
         |${pfx}fof_$cur AS (SELECT DISTINCT a.u, b.v
         |  FROM ${pfx}und_$cur a JOIN ${pfx}und_$cur b ON a.v = b.u WHERE a.u <> b.v),
         |${pfx}pool_$cur AS (SELECT u, v FROM $prev UNION SELECT u, v FROM ${pfx}fof_$cur),
         |${pfx}d_$cur AS (SELECT p.u, p.v, $pairNdSql AS nd
         |  FROM ${pfx}pool_$cur p JOIN e a ON p.u = a.vec_id JOIN e b ON p.v = b.vec_id),
         |${pfx}$cur AS (SELECT u, v, nd,
         |    row_number() OVER (PARTITION BY u ORDER BY nd DESC, v) AS rk
         |  FROM ${pfx}d_$cur)""".stripMargin
    val mids = (1 until rounds).map { i =>
      s"""${round(if (i == 1) s"${pfx}init" else s"${pfx}e${i - 1}", s"r$i")},
         |${pfx}e$i AS (SELECT u, v FROM ${pfx}r$i WHERE rk <= $r)""".stripMargin
    }.mkString(",\n")
    val midSep = if (rounds > 1) s"$mids," else ""
    s"""${pfx}n AS (SELECT max(vec_id // $member) + 1 AS n FROM e WHERE vec_id % $member = 0),
       |${pfx}init AS (SELECT a.vec_id AS u, ((a.vec_id // $member + t.j) % n.n) * $member AS v
       |  FROM e a, ${pfx}n n, generate_series(1, $r) AS t(j)
       |  WHERE a.vec_id % $member = 0
       |    AND a.vec_id <> ((a.vec_id // $member + t.j) % n.n) * $member),
       |$midSep
       |${round(if (rounds == 1) s"${pfx}init" else s"${pfx}e${rounds - 1}", s"r$rounds")},
       |${pfx}g AS MATERIALIZED (SELECT u, v FROM ${pfx}r$rounds WHERE rk <= $r)""".stripMargin
  }

  /** One query's full layered descent as prefix-namespaced CTEs over the
    * shared `e`/`l1g`/`l0g` replays, ending in `${p}res(rank, vec_id, nd)`
    * — the query-node exclusions ride on `${p}dist` (v side) and the
    * visited sets never containing the query (u side), exactly the
    * Spark-side argument.
    */
  private def hnswDescentSql(qid: Long, p: String, levels: Int = 2,
      topModExpr: String = ""): String = {
    val topMod = if (topModExpr.nonEmpty) topModExpr
      else BigInt(HnswStride).pow(levels).toString
    def beam(graph: String, prevV: String, curB: String, curV: String, w: Int): String =
      s"""$p$curB AS (SELECT vec_id FROM $p$prevV ORDER BY nd DESC, vec_id LIMIT $w),
         |$p$curV AS (SELECT vec_id, nd FROM $p$prevV
         |          UNION SELECT d.vec_id, d.nd
         |          FROM ${p}dist d JOIN $graph g ON g.v = d.vec_id
         |                      JOIN $p$curB b ON g.u = b.vec_id)""".stripMargin
    val upper = ((levels - 1) to 1 by -1).map { l =>
      val prev = if (l == levels - 1) "top" else s"mid${l + 1}"
      s"""${beam(s"l${l}g", prev, s"ub$l", s"uv$l", HnswMidFanout)},
         |${p}mid$l AS (SELECT vec_id, nd FROM ${p}uv$l
         |  ORDER BY nd DESC, vec_id LIMIT $HnswMidFanout)""".stripMargin
    }.mkString(",\n")
    s"""${p}q AS (SELECT v AS qv FROM e WHERE vec_id = $qid),
       |${p}dist AS MATERIALIZED (SELECT e.vec_id,
       |           CAST(-list_sum(list_transform(range(1, $Dim+1),
       |             i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i]))) AS BIGINT) AS nd
       |         FROM e, ${p}q q WHERE e.vec_id <> $qid),
       |${p}top AS (SELECT vec_id, nd FROM ${p}dist WHERE vec_id % $topMod = 0
       |        ORDER BY nd DESC, vec_id LIMIT 1),
       |$upper,
       |${beam("l0g", "mid1", "c1", "w1", HnswEf)},
       |${beam("l0g", "w1", "c2", "w2", HnswEf)},
       |${beam("l0g", "w2", "c3", "w3", HnswEf)},
       |${p}res AS (
       |  SELECT row_number() OVER (ORDER BY nd DESC, vec_id) AS rank, vec_id, nd
       |  FROM (SELECT * FROM ${p}w3 ORDER BY nd DESC, vec_id LIMIT 5))""".stripMargin
  }

  /** The oracle's replay of a fixed artifact at `levels`: the corpus CTE
    * `e` and the layer builds `l{levels-1}g` .. `l0g` (layer l over the
    * `vec_id % stride^l == 0` members).
    */
  private def hnswFixedPrefixSql(levels: Int): String =
    (hnswCorpusSql +: hnswFixedReplaySql(levels)).mkString(",\n")

  private def hnswFixedReplaySql(levels: Int): Seq[String] =
    ((levels - 1) to 0 by -1).map(l => ndReplaySql(s"l$l",
      BigInt(HnswStride).pow(l).toInt, hnswLayerR(l), HnswBuildRounds))

  /** The oracle's replay of the auto artifact: `e`, the stride CTEs and
    * the layer builds `l2g` .. `l0g` with the stride as a scalar subquery.
    */
  private def hnswAutoPrefixSql: String =
    (hnswCorpusSql +: autoStrideSql +: hnswAutoReplaySql).mkString(",\n")

  private def hnswAutoReplaySql: Seq[String] =
    ((HnswLevelsMax - 1) to 1 by -1).map(l => ndReplaySqlExpr(s"l$l",
      s"(SELECT ${Seq.fill(l)("s").mkString("*")} FROM st)", hnswLayerR(l),
      HnswBuildRounds)) :+
      ndReplaySql("l0", 1, GraphR, HnswBuildRounds)

  private def hnswCorpusSql: String =
    s"WITH e AS MATERIALIZED (${eCapSql("9223372036854775807")})"

  /** The auto artifact's stride recomputed from count(*) with the same
    * exact integer search as [[autoHnswStride]] — one static string,
    * correct at every scale (s = 2 at sf0.01, 4 at sf0.1, 7 at sf1).
    */
  private def autoStrideSql: String =
    s"""nn AS (SELECT count(*) AS n FROM e),
       |st AS (SELECT min(s) AS s FROM range(2, 4097) t(s), nn
       |       WHERE s*s*s*$HnswTopTarget >= nn.n)""".stripMargin

  val qAnnHnswProbeSql: String =
    s"""${hnswFixedPrefixSql(levels = 2)},
       |${hnswDescentSql(0L, "")}
       |SELECT rank, vec_id, nd FROM res ORDER BY rank""".stripMargin

  def qAnnHnswAutoFiltered(s: SparkSession, dir: String): DataFrame =
    hnswProbeFiltered(s, stagedHnswGraphAuto(s, dir),
      Tables.embeddings(s, dir), queryId = 0L, k = 5,
      pred = pmod(col("vec_id"), lit(3)) === 1)

  val qAnnHnswAutoFilteredSql: String = {
    s"""$hnswAutoPrefixSql,
       |${hnswDescentSql(0L, "", levels = 3, topModExpr = "(SELECT s*s*s FROM st)")}
       |SELECT row_number() OVER (ORDER BY nd DESC, vec_id) AS rank, vec_id, nd
       |FROM (SELECT * FROM w3 WHERE vec_id % 3 = 1
       |      ORDER BY nd DESC, vec_id LIMIT 5)
       |ORDER BY rank""".stripMargin
  }

  private val HnswBatchQueryIds = Seq(0L, 1L, 2L)

  def qAnnHnswAutoBatch(s: SparkSession, dir: String): DataFrame =
    hnswProbeBatched(s, stagedHnswGraphAuto(s, dir),
      Tables.embeddings(s, dir), HnswBatchQueryIds, 5)

  /** The same batch given as an id frame: the ids are collected (one
    * past [[MaxBatchQueries]] at most, so an oversized frame still fails
    * the cap by name) into the one batched descent — same oracle string
    * as [[qAnnHnswAutoBatch]].
    */
  def qAnnHnswAutoDfBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = HnswBatchQueryIds.toDF("vec_id").as[Long]
      .limit(MaxBatchQueries + 1).collect().toSeq
    hnswProbeBatched(s, stagedHnswGraphAuto(s, dir),
      Tables.embeddings(s, dir), ids, 5)
  }

  val qAnnHnswAutoBatchSql: String = {
    val descents = HnswBatchQueryIds.map(q =>
      hnswDescentSql(q, s"q${q}_", levels = 3,
        topModExpr = "(SELECT s*s*s FROM st)"))
    val unions = HnswBatchQueryIds.map(q =>
      s"SELECT CAST($q AS BIGINT) AS q_id, rank, vec_id, nd FROM q${q}_res")
    s"""$hnswAutoPrefixSql,
       |${descents.mkString(",\n")}
       |${unions.mkString("\nUNION ALL\n")}
       |ORDER BY q_id, rank""".stripMargin
  }

  // -------------------------------------------------- pq-compressed walk --

  /** PQ codes sidecar for the persisted graph — (vec_id, code_0..code_3)
    * partitioned by the SAME `b = vec_id % 16` buckets as the layer
    * graphs, plus the codebook centroids. 8 bytes of codes replace 256
    * bytes of vector in every walk step's read — the DiskANN-style
    * serving trade: at 100 TB the graph walk's I/O is candidate VECTOR
    * reads, and the sidecar cuts them 32× while the exact rerank at
    * emission keeps the final ranking honest.
    */
  def writePqCodes(e0: DataFrame, outDir: String): Unit = {
    val e = e0.withColumn("v", scaled(col("embedding")))
    val codes = (0 until PqM).map { j =>
      array_min(transform(col("cents"), c =>
        struct(subDist(col("v"), c.getField("cv"), j).as("dist"),
          c.getField("c_label").as("l")))).getField("l").as(s"code_$j")
    }
    // ONE corpus-wide centroid aggregation feeds both writes (and the two
    // artifacts cannot drift even if the computation ever becomes
    // order-sensitive)
    val cents = CheckpointScope.local(pqCentArr(e))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id") +: codes: _*)
      .withColumn("b", pmod(col("vec_id"), lit(HnswBuckets)))
      .repartition(col("b"))
      .write.partitionBy("b").mode("overwrite").parquet(s"$outDir/codes")
    cents.select(explode(col("cents")).as("c"))
      .select(col("c.c_label").as("c_label"), col("c.cv").as("cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/cents")
    CheckpointScope.release(cents)
  }

  /** PQ codes sidecar from EXTERNALLY-TRAINED per-subspace codebooks —
    * [[pqTrain]]'s (j, c_id, cv) shape. This is the production path (a
    * Lloyd-trained book beats the label-centroid book the SQL oracle can
    * replay); it lives behind the spec-pinned boundary the trained
    * encoder already uses (PqTrainSpec pins the training, the recall
    * spec pins the walk over trained books). Cents persist per-subspace
    * as (j, c_label, cv) — [[pqGraphProbe]] branches on that schema.
    */
  def writePqCodesTrained(e0: DataFrame, books: DataFrame, outDir: String): Unit = {
    val asg = pqAssign(pqSubRows(e0, "vec_id", "embedding", PqM), books)
    val aggs = (0 until PqM).map(j =>
      max(when(col("j") === j, col("code"))).as(s"code_$j"))
    asg.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id").as("vec_id") +: (0 until PqM).map(j => col(s"code_$j")): _*)
      .withColumn("b", pmod(col("vec_id"), lit(HnswBuckets)))
      .repartition(col("b"))
      .write.partitionBy("b").mode("overwrite").parquet(s"$outDir/codes")
    books.select(col("j"), col("c_id").cast("long").as("c_label"), col("cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/cents")
  }

  private[graft] def stagedPqCodes(s: SparkSession, dir: String): String = {
    Staging.stagedFor("pq_codes_v1", dir, "embeddings.parquet") { tmp =>
      writePqCodes(Tables.embeddings(s, dir), tmp.toString)
    }
  }

  /** Graph walk on PQ codes with exact rerank at emission — the
    * compressed serving composition: the descent's every distance is the
    * ADC lookup Σ_j dq(j, code_j(v)) computed from the candidate's
    * 8-byte sidecar row (partition-pruned read of the SAME buckets as
    * the edge fetch — the walk never touches a full vector), and only
    * the final [[PqWalkRerank]] candidates pay one exact pruned vector
    * read. The per-query dq table is |codebook|·M ints, one tiny job
    * against the persisted centroids. Recall is governed by the codebook
    * (the same coarseness [[pqSearch]] pins); the rerank depth is what
    * buys it back — at emission the top ADC candidates are re-ranked by
    * exact distance, so anything the walk VISITED is recoverable.
    *
    * `graphDir` is either artifact, described by [[hnswLayers]] as the
    * exact probes see it: best-1 ADC over the entry members' ids, one
    * beam round per upper layer at [[HnswMidFanout]] with a trim between
    * layers, then the base layer at [[HnswEf]] for [[GraphBeamRounds]]
    * rounds. On the auto artifact the seed read is its ≤[[HnswTopTarget]]
    * -row entry table, so no stage's input grows with n.
    */
  def pqGraphProbe(s: SparkSession, graphDir: String, codesDir: String,
      e: DataFrame, queryId: Long, k: Int): DataFrame = {
    import s.implicits._
    // per-query ADC table from the PERSISTED centroids — (j, c_label) -> distq
    val q = e.filter(col("vec_id") === queryId)
      .select(scaled(col("embedding")).as("qv"))
    val centsDf = s.read.parquet(s"$codesDir/cents")
    val dq: Map[(Int, Long), Long] =
      if (centsDf.columns.contains("j")) {
        // trained-book shape: per-subspace (j, c_label, cv) rows
        centsDf.crossJoin(broadcast(q))
          .select(col("j").cast("int"), col("c_label").cast("long"),
            aggregate(
              zip_with(slice(col("qv"), col("j") * lit(PqSub) + 1, lit(PqSub)),
                col("cv"), (x, c) => (x - c) * (x - c)),
              lit(0.0d), (acc, x) => acc + x).as("distq"))
          .as[(Int, Long, Double)].collect()
          .map { case (j, l, d) => (j, l) -> d.toLong }.toMap
      } else {
        // label-centroid shape: full-dim (c_label, cv), sliced per j
        centsDf.crossJoin(broadcast(q))
          .select(col("c_label").cast("long"),
            array((0 until PqM).map(j => subDist(col("qv"), col("cv"), j)): _*).as("dqs"))
          .as[(Long, Array[Double])].collect()
          .flatMap { case (l, ds) => ds.zipWithIndex.map { case (d, j) => (j, l) -> d.toLong } }
          .toMap
      }
    val codes = s.read.parquet(s"$codesDir/codes")
    def adcOf(ids: Seq[Long]): Seq[(Long, Long)] = // (id, nd = -adist)
      if (ids.isEmpty) Nil
      else codes
        .filter(col("b").isin(ids.map(_ % HnswBuckets).distinct: _*) &&
          col("vec_id").isin(ids: _*))
        .collect().map { r =>
          val id = r.getAs[Long]("vec_id")
          var a = 0L
          for (j <- 0 until PqM) a += dq((j, r.getAs[Number](s"code_$j").longValue))
          (id, -a)
        }.toSeq
    // top seeds: the entry members' ids only — their distances are ADC
    // like every other step
    val layers = hnswLayers(s, graphDir, e, levels = 2)
    val seedIds = layers.entry.filter(col("vec_id") =!= queryId)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    require(seedIds.nonEmpty, "pqGraphProbe: empty seed set")
    val visited = scala.collection.mutable.Map[Long, Long]()
    visited ++= adcOf(seedIds).sortBy { case (id, nd) => (-nd, id) }.take(1)
    def walk(layerDir: String, r: Int, w: Int, n: Int): Unit =
      for (_ <- 1 to n) {
        val beamIds = visited.toSeq.sortBy { case (id, nd) => (-nd, id) }
          .take(w).map(_._1)
        val nbrs = annGraphLookup(s, layerDir, r)(beamIds)
          .filter(col("u") =!= queryId && col("v") =!= queryId)
          .select(col("v")).distinct().collect().map(_.getLong(0))
          .filterNot(id => id == queryId || visited.contains(id)).toSeq
        visited ++= adcOf(nbrs)
      }
    for ((dir, r) <- layers.upper) {
      walk(dir, r, HnswMidFanout, 1)
      val mid = visited.toSeq.sortBy { case (id, nd) => (-nd, id) }.take(HnswMidFanout)
      visited.clear(); visited ++= mid
    }
    walk(layers.base._1, layers.base._2, HnswEf, GraphBeamRounds)
    // emission: exact rerank of the top-`PqWalkRerank` ADC candidates —
    // the ONLY full-vector read of the whole probe
    val cand = visited.toSeq.sortBy { case (id, nd) => (-nd, id) }
      .take(PqWalkRerank).map(_._1)
    val qvec = e.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    e.filter(col("vec_id").isin(cand: _*))
      .select(col("vec_id"),
        graft.plans.NegSqDistExpr.negSqDist(col("embedding"), typedLit(qvec)).as("nd"))
      .orderBy(col("nd").desc, col("vec_id")).limit(k)
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("nd").desc, col("vec_id"))).as("rank"),
        col("vec_id"), col("nd"))
      .orderBy(col("rank"))
  }

  private val PqWalkRerank = 50

  def qAnnPqGraphWalk(s: SparkSession, dir: String): DataFrame =
    pqGraphProbe(s, stagedHnswGraph(s, dir), stagedPqCodes(s, dir),
      Tables.embeddings(s, dir), queryId = 0L, k = 5)

  val qAnnPqGraphWalkSql: String =
    pqWalkSql(Seq(hnswCorpusSql, pqLabelSql) ++ hnswFixedReplaySql(levels = 2),
      (HnswStride * HnswStride).toString, levels = 2)

  def qAnnPqGraphWalkAuto(s: SparkSession, dir: String): DataFrame =
    pqGraphProbe(s, stagedHnswGraphAuto(s, dir), stagedPqCodes(s, dir),
      Tables.embeddings(s, dir), queryId = 0L, k = 5)

  val qAnnPqGraphWalkAutoSql: String =
    pqWalkSql(Seq(hnswCorpusSql, autoStrideSql, pqLabelSql) ++ hnswAutoReplaySql,
      "(SELECT s*s*s FROM st)", levels = HnswLevelsMax)

  /** The corpus rows with their labels: the label-centroid codebook the
    * oracle replays ([[writePqCodes]]). */
  private def pqLabelSql: String =
    """el AS (SELECT e.vec_id, e.v, emb.label
      |       FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id)""".stripMargin

  /** The oracle of [[pqGraphProbe]] for query 0 after the CTEs `prefix`
    * (the corpus `e`, the labelled `el` and the layer replays
    * `l{levels-1}g` .. `l0g`): the label-centroid ADC table, best-1 over
    * the `vec_id % topMod == 0` members, one beam round per upper layer
    * at the mid fan-out, three base rounds at [[HnswEf]], exact rerank.
    */
  private def pqWalkSql(prefix: Seq[String], topMod: String, levels: Int): String = {
    def beam(graph: String, prevV: String, curB: String, curV: String, w: Int): String =
      s"""$curB AS (SELECT vec_id FROM $prevV ORDER BY nd DESC, vec_id LIMIT $w),
         |$curV AS (SELECT vec_id, nd FROM $prevV
         |          UNION SELECT d.vec_id, d.nd
         |          FROM adc d JOIN $graph g ON g.v = d.vec_id
         |                     JOIN $curB b ON g.u = b.vec_id
         |          WHERE g.u <> 0 AND g.v <> 0)""".stripMargin
    val upper = ((levels - 1) to 1 by -1).map { l =>
      val prev = if (l == levels - 1) "top" else s"mid${l + 1}"
      s"""${beam(s"l${l}g", prev, s"ub$l", s"uv$l", HnswMidFanout)},
         |mid$l AS (SELECT vec_id, nd FROM uv$l ORDER BY nd DESC, vec_id LIMIT $HnswMidFanout)""".stripMargin
    }.mkString(",\n")
    s"""${prefix.mkString(",\n")},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |comp AS (SELECT label, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM el),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY i) AS cv
       |  FROM (SELECT label, i, round(sum(x)/count(*)) AS c FROM comp GROUP BY label, i)
       |  GROUP BY label),
       |d AS (
       |  SELECT e.vec_id, c.c_label, js.j,
       |    list_sum(list_transform(range(1, $PqSub+1),
       |      i -> (v[js.j*$PqSub+i]-cv[js.j*$PqSub+i])*(v[js.j*$PqSub+i]-cv[js.j*$PqSub+i]))) AS dist
       |  FROM e, cent c, (SELECT unnest(range(0, $PqM)) AS j) js
       |  WHERE e.vec_id <> 0),
       |dq AS (
       |  SELECT c.c_label, js.j,
       |    list_sum(list_transform(range(1, $PqSub+1),
       |      i -> (qv[js.j*$PqSub+i]-cv[js.j*$PqSub+i])*(qv[js.j*$PqSub+i]-cv[js.j*$PqSub+i]))) AS distq
       |  FROM cent c, q, (SELECT unnest(range(0, $PqM)) AS j) js),
       |best AS (
       |  SELECT vec_id, j, c_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c_label) AS rk
       |    FROM d)
       |  WHERE rk = 1),
       |adc AS MATERIALIZED (
       |  SELECT vec_id, CAST(-sum(distq) AS BIGINT) AS nd
       |  FROM best JOIN dq USING (c_label, j)
       |  GROUP BY vec_id),
       |top AS (SELECT vec_id, nd FROM adc
       |        WHERE vec_id % $topMod = 0
       |        ORDER BY nd DESC, vec_id LIMIT 1),
       |$upper,
       |${beam("l0g", "mid1", "c1", "w1", HnswEf)},
       |${beam("l0g", "w1", "c2", "w2", HnswEf)},
       |${beam("l0g", "w2", "c3", "w3", HnswEf)},
       |cand AS (SELECT vec_id FROM w3 ORDER BY nd DESC, vec_id LIMIT $PqWalkRerank),
       |ex AS (SELECT e.vec_id,
       |         CAST(-list_sum(list_transform(range(1, $Dim+1),
       |           i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i]))) AS BIGINT) AS nd
       |       FROM e JOIN cand USING (vec_id), q)
       |SELECT row_number() OVER (ORDER BY nd DESC, vec_id) AS rank, vec_id, nd
       |FROM (SELECT * FROM ex ORDER BY nd DESC, vec_id LIMIT 5)
       |ORDER BY rank""".stripMargin
  }

  // ----------------------------------------------------- ivf-graph hybrid --

  /** IVF-graph hybrid search — the sharded-serving composition: the
    * coarse quantizer picks the query's cell (exact scaled-int centroid
    * argmin, the [[ivfSearch]] construction), ONE cell-partition scan
    * seeds the beam with the in-cell top-[[HnswMidFanout]], and the
    * PERSISTED base graph refines across cell boundaries — the beam buys
    * back exactly the recall plain IVF loses at cell edges (nprobe=1 IVF
    * measures 0.18 recall@10 on the uniform corpus; the hybrid's walk
    * escapes the cell through graph edges). At 100 TB: the entry search
    * reads one label partition (n/K rows, the IVF pruning), the walk
    * touches O(beam·R·rounds) partition-pruned bucket files — cells
    * prune the entry, the graph serves the recall.
    */
  def ivfGraphSearch(s: SparkSession, graphDir: String, e: DataFrame,
      queryId: Long, k: Int, beam: Int = HnswEf,
      rounds: Int = GraphBeamRounds,
      entries: Int = IvfGraphEntries): DataFrame = {
    val qvec = e.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // nearest centroid by exact scaled-int distance (ivfSearch's cent)
    val comp = e.withColumn("v", scaled(col("embedding")))
      .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
    val cent = comp.groupBy(col("label"), col("i"))
      .agg(round(sum(col("x")) / count(lit(1))).as("c"))
      .groupBy(col("label")).agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ic"))
      .select(col("label").as("c_label"), expr("transform(ic, p -> p.c)").as("cv"))
    val probeLabel = cent
      .withColumn("qv", scaled(typedLit(qvec)))
      .withColumn("dist", dotScaled(zip_with(col("qv"), col("cv"), (a, b) => a - b),
        zip_with(col("qv"), col("cv"), (a, b) => a - b)))
      .orderBy(col("dist"), col("c_label")).limit(1)
      .select(col("c_label")).head().get(0)
    // entry seeds: the probed cell's exact in-cell top-`entries` — wider
    // than the hnsw descent's 2-seed hand-off because the cell scan has
    // already PAID for every in-cell distance; more seeds are free here
    // and they are what lifts planted recall above the plain probe's
    val seeds = e.filter(col("label") === lit(probeLabel) &&
        col("vec_id") =!= queryId)
      .select(col("vec_id"),
        graft.plans.NegSqDistExpr.negSqDist(col("embedding"), typedLit(qvec)).as("nd"))
      .orderBy(col("nd").desc, col("vec_id")).limit(entries)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    require(seeds.nonEmpty,
      s"ivfGraphSearch: probed cell $probeLabel holds no non-query node")
    // the cell scan already paid for every seed's exact distance —
    // hand them down so the descent skips its seed re-score job
    graphBeamSearch(s.emptyDataFrame, e, queryId, k, beam = beam,
      rounds = rounds, queryVec = Some(qvec),
      lookup = Some(annGraphLookup(s, graphDir, GraphR)),
      entryDists = Some(seeds))
  }

  private val IvfGraphEntries = 4

  def qAnnIvfGraph(s: SparkSession, dir: String): DataFrame =
    ivfGraphSearch(s, s"${stagedHnswGraph(s, dir)}/layer0",
      Tables.embeddings(s, dir), queryId = 0L, k = 5)

  val qAnnIvfGraphSql: String = {
    def beam(prevV: String, curB: String, curV: String, w: Int): String =
      s"""$curB AS (SELECT vec_id FROM $prevV ORDER BY nd DESC, vec_id LIMIT $w),
         |$curV AS (SELECT vec_id, nd FROM $prevV
         |          UNION SELECT d.vec_id, d.nd
         |          FROM dist d JOIN l0g g ON g.v = d.vec_id
         |                      JOIN $curB b ON g.u = b.vec_id)""".stripMargin
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, label,
       |    list_transform(range(1, $Dim+1), i -> ${scaledElemSql("embedding", "i")}) AS v
       |  FROM embeddings),
       |${ndReplaySql("l0", 1, GraphR, HnswBuildRounds)},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |dist AS MATERIALIZED (SELECT e.vec_id,
       |       CAST(-list_sum(list_transform(range(1, $Dim+1),
       |         i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i]))) AS BIGINT) AS nd
       |     FROM e, q WHERE e.vec_id <> 0),
       |comp AS (SELECT label, unnest(range(1, $Dim+1)) AS i, unnest(v) AS x FROM e),
       |cent AS (
       |  SELECT label AS c_label, list(c ORDER BY i) AS cv
       |  FROM (SELECT label, i, round(sum(x)/count(*)) AS c FROM comp GROUP BY label, i)
       |  GROUP BY label),
       |probe AS (
       |  SELECT c_label FROM cent, q
       |  ORDER BY list_sum(list_transform(range(1, $Dim+1), i -> (qv[i]-cv[i])*(qv[i]-cv[i]))), c_label
       |  LIMIT 1),
       |ent AS (SELECT d.vec_id, d.nd FROM dist d JOIN e ON d.vec_id = e.vec_id
       |        JOIN probe p ON e.label = p.c_label
       |        ORDER BY d.nd DESC, d.vec_id LIMIT $IvfGraphEntries),
       |${beam("ent", "c1", "w1", HnswEf)},
       |${beam("w1", "c2", "w2", HnswEf)},
       |${beam("w2", "c3", "w3", HnswEf)}
       |SELECT row_number() OVER (ORDER BY nd DESC, vec_id) AS rank, vec_id, nd
       |FROM (SELECT * FROM w3 ORDER BY nd DESC, vec_id LIMIT 5)
       |ORDER BY rank""".stripMargin
  }

  /** Metadata-FILTERED ANN search over the persisted graph — the serving
    * problem real vector stores call filtered search ("give me the
    * nearest docs IN language X / with license Y"). The predicate admits
    * results at EMISSION only: the descent traverses the graph
    * unfiltered, so connectivity through non-matching nodes is preserved
    * — the classic filtered-HNSW pitfall is pre-filtering the graph,
    * which strands the beam in islands whenever the predicate's
    * selectivity is high. The wide efSearch beam is what keeps the
    * admitted top-k populated at moderate selectivity; for highly
    * selective predicates compose the other direction (filter first,
    * then [[knnJoinBatched]] over the qualifying subset — both shapes
    * exist in this library). Either artifact ([[hnswLayers]]).
    */
  def hnswProbeFiltered(s: SparkSession, graphDir: String, e: DataFrame,
      queryId: Long, k: Int, pred: Column): DataFrame =
    // the full visited set of the base descent, ranked (k = all)
    hnswProbe(s, graphDir, e, queryId, Int.MaxValue)
      .join(e.filter(pred).select(col("vec_id")), Seq("vec_id"), "left_semi")
      .orderBy(col("nd").desc, col("vec_id")).limit(k)
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("nd").desc, col("vec_id"))).as("rank"),
        col("vec_id"), col("nd"))
      .orderBy(col("rank"))

  def qAnnHnswFiltered(s: SparkSession, dir: String): DataFrame =
    hnswProbeFiltered(s, stagedHnswGraph(s, dir), Tables.embeddings(s, dir),
      queryId = 0L, k = 5, pred = pmod(col("vec_id"), lit(3)) === 1)

  val qAnnHnswFilteredSql: String =
    s"""${hnswFixedPrefixSql(levels = 2)},
       |${hnswDescentSql(0L, "")}
       |SELECT row_number() OVER (ORDER BY nd DESC, vec_id) AS rank, vec_id, nd
       |FROM (SELECT * FROM w3 WHERE vec_id % 3 = 1
       |      ORDER BY nd DESC, vec_id LIMIT 5)
       |ORDER BY rank""".stripMargin

  def qAnnHnswProbeBatch(s: SparkSession, dir: String): DataFrame =
    hnswProbeBatched(s, stagedHnswGraph(s, dir), Tables.embeddings(s, dir),
      HnswBatchQueryIds, 5)

  val qAnnHnswProbeBatchSql: String = {
    val descents = HnswBatchQueryIds.map(q => hnswDescentSql(q, s"q${q}_"))
    val unions = HnswBatchQueryIds.map(q =>
      s"SELECT CAST($q AS BIGINT) AS q_id, rank, vec_id, nd FROM q${q}_res")
    s"""${hnswFixedPrefixSql(levels = 2)},
       |${descents.mkString(",\n")}
       |${unions.mkString("\nUNION ALL\n")}
       |ORDER BY q_id, rank""".stripMargin
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("q_ann_bruteforce_topk", qAnnBruteForce, Some(qAnnBruteForceSql), bench = true),
    QueryDef("q_ann_lsh_signature", qAnnLshSignature, Some(qAnnLshSignatureSql), bench = true),
    QueryDef("q_ann_ivf_assign", qAnnIvfAssign, Some(qAnnIvfAssignSql)),
    QueryDef("q_ann_ivf_search", qAnnIvfSearch, Some(qAnnIvfSearchSql)),
    QueryDef("q_ann_lsh_search", qAnnLshSearch, Some(qAnnLshSearchSql)),
    QueryDef("q_ann_lsh_multiprobe", qAnnLshMultiprobe, Some(qAnnLshMultiprobeSql)),
    QueryDef("q_ann_kmeans", qAnnKmeans, Some(qAnnKmeansSql), bench = true),
    QueryDef("q_ann_pq_encode", qAnnPqEncode, Some(qAnnPqEncodeSql)),
    QueryDef("q_ann_pq_search", qAnnPqSearch, Some(qAnnPqSearchSql)),
    QueryDef("q_ann_pq_train", qAnnPqTrain, Some(qAnnPqTrainSql)),
    QueryDef("q_ann_ivfpq_search", qAnnIvfPqSearch, Some(qAnnIvfPqSearchSql)),
    QueryDef("q_emb_normalize", qEmbNormalize, Some(qEmbNormalizeSql)),
    QueryDef("q_ann_sq_train", qAnnSqTrain, Some(qAnnSqTrainSql)),
    QueryDef("q_ann_sq_encode", qAnnSqEncode, Some(qAnnSqEncodeSql)),
    QueryDef("q_ann_sq_search", qAnnSqSearch, Some(qAnnSqSearchSql)),
    QueryDef("q_ann_sq4_encode", qAnnSq4Encode, Some(qAnnSq4EncodeSql)),
    QueryDef("q_ann_sq4_search", qAnnSq4Search, Some(qAnnSq4SearchSql)),
    QueryDef("q_ann_binary_encode", qAnnBinaryEncode, Some(qAnnBinaryEncodeSql)),
    QueryDef("q_ann_binary_search", qAnnBinarySearch, Some(qAnnBinarySearchSql)),
    QueryDef("q_ann_knn_join", qAnnKnnJoin, Some(qAnnKnnJoinSql)),
    QueryDef("q_ann_knn_join_batch", qAnnKnnJoinBatch, Some(qAnnKnnJoinBatchSql), bench = true),
    QueryDef("q_ann_graph_build", qAnnGraphBuild, Some(qAnnGraphBuildSql)),
    QueryDef("q_ann_nndescent", qAnnNnDescent, Some(qAnnNnDescentSql), bench = true),
    QueryDef("q_ann_graph_search", qAnnGraphSearch, Some(qAnnGraphSearchSql)),
    QueryDef("q_ann_hnsw_search", qAnnHnswSearch, Some(qAnnHnswSearchSql),
      bench = true),
    // bench = true times the PROBE alone: the staged layer graphs are
    // built during the untimed warmup pass (Staging.stagedDir), the
    // q_text_bm25_probe protocol — serving cost is the 100 TB product
    QueryDef("q_ann_hnsw_probe", qAnnHnswProbe, Some(qAnnHnswProbeSql), bench = true),
    QueryDef("q_ann_hnsw_probe_batch", qAnnHnswProbeBatch, Some(qAnnHnswProbeBatchSql), bench = true),
    QueryDef("q_ann_hnsw_filtered", qAnnHnswFiltered, Some(qAnnHnswFilteredSql)),
    QueryDef("q_ann_hnsw_probe3", qAnnHnswProbe3, Some(qAnnHnswProbe3Sql)),
    QueryDef("q_ann_hnsw_auto", qAnnHnswAuto, Some(qAnnHnswAutoSql), bench = true),
    QueryDef("q_ann_ivf_graph", qAnnIvfGraph, Some(qAnnIvfGraphSql)),
    QueryDef("q_ann_hnsw_auto_batch", qAnnHnswAutoBatch, Some(qAnnHnswAutoBatchSql),
      bench = true),
    QueryDef("q_ann_hnsw_auto_dfbatch", qAnnHnswAutoDfBatch,
      Some(qAnnHnswAutoBatchSql)),
    QueryDef("q_ann_pq_graph_walk", qAnnPqGraphWalk, Some(qAnnPqGraphWalkSql)),
    QueryDef("q_ann_pq_graph_walk_auto", qAnnPqGraphWalkAuto,
      Some(qAnnPqGraphWalkAutoSql)),
    QueryDef("q_ann_hnsw_auto_filtered", qAnnHnswAutoFiltered,
      Some(qAnnHnswAutoFilteredSql)),
    QueryDef("q_ann_matryoshka", qAnnMatryoshka, Some(qAnnMatryoshkaSql)),
    QueryDef("q_ann_mmr", qAnnMmr, Some(qAnnMmrSql)),
    QueryDef("q_ann_mmr_hnsw", qAnnMmrHnsw, Some(qAnnMmrHnswSql)),
  )
}
