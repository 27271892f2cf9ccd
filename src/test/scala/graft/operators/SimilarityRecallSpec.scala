package graft.operators

import graft.vpts.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** ANN recall@10 vs the brute-force ground truth (VERDICT r6 #6): the
  * speed/accuracy trade each approximate searcher buys at 100 TB, pinned.
  *
  * Two regimes, both deterministic:
  *
  * 1. A PLANTED-cluster fixture (10 well-separated centroids, 50 members
  *    each, seeded perturbations) — the realistic shape of trained
  *    embeddings, where each searcher's recall floor is pinned per
  *    operator. IVF probes the query's own cluster, LSH buckets collapse
  *    within a cluster, PQ codebooks align with the planted structure.
  *
  * 2. The sf0.001 fixture corpus — UNIFORM-random vectors, the worst case
  *    for any locality structure (cosine neighbors of random points are
  *    barely closer than non-neighbors). Absolute recall is legitimately
  *    low there; what is pinned is the invariant that paying more probes
  *    buys recall: multiprobe >= single-bucket LSH, plus each operator's
  *    measured value as a regression floor.
  */
class SimilarityRecallSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  private def recallAt10(e: DataFrame, queries: Seq[Long],
      op: (DataFrame, Long) => DataFrame): Double = {
    val rs = queries.map { q =>
      val gt = ids(Similarity.bruteForceTopK(e, q, 10))
      ids(op(e, q)).intersect(gt).size / 10.0
    }
    rs.sum / rs.size
  }

  private lazy val planted: DataFrame = {
    val rnd = new java.util.Random(42)
    val dim = 64
    val cents = Array.fill(10, dim)(rnd.nextFloat() * 2f - 1f)
    val rows = for (c <- 0 until 10; m <- 0 until 50) yield {
      val v = cents(c).map(x => x + (rnd.nextFloat() * 0.1f - 0.05f))
      (c * 50L + m, v, c)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("batched knn: the single-pass aggregation form equals the join form row-for-row") {
    // the two formulations share the oracle, but pin them against each
    // other directly too — on the real corpus AND the planted fixture,
    // where exact ties between same-cluster members exercise the
    // (nd DESC, vec_id ASC) ordering in both code paths
    for (corpus <- Seq(graft.Tables.embeddings(spark, sfDir), planted)) {
      val qs = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 40)
      val join = Similarity.knnJoin(corpus, qs, 5)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val agg = Similarity.knnJoinBatched(corpus, qs, 5)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(join == agg, s"join vs aggregation divergence: ${join.diff(agg).take(3)}")
      assert(join.nonEmpty)
    }
  }

  test("batched knn: empty query set short-circuits to an empty frame, like the join form") {
    val corpus = planted
    val none = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 0)
    val out = Similarity.knnJoinBatched(corpus, none, 5)
    assert(out.columns.toSeq == Seq("q_id", "knn"))
    assert(out.count() == 0L)
  }

  test("planted clusters: every searcher recovers the local structure") {
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val lsh = recallAt10(planted, queries, Similarity.lshSearch(_, _, 10))
    val multi = recallAt10(planted, queries, Similarity.lshMultiprobe(_, _, 10))
    val ivf = recallAt10(planted, queries, Similarity.ivfSearch(_, _, 10))
    val pq = recallAt10(planted, queries, Similarity.pqSearch(_, _, 10))
    val sq = recallAt10(planted, queries, Similarity.sqSearch(_, _, 10))
    val mat = recallAt10(planted, queries, Similarity.matryoshkaSearch(_, _, 10))
    info(f"planted recall@10: lsh=$lsh%.2f multiprobe=$multi%.2f ivf=$ivf%.2f pq=$pq%.2f sq=$sq%.2f matryoshka=$mat%.2f")
    assert(mat >= 0.9, s"matryoshka recall $mat — prefix dims preserve planted separation")
    assert(ivf >= 0.99, s"ivf recall $ivf — the coarse quantizer should be exact on planted clusters")
    assert(lsh >= 0.7, s"lsh recall $lsh (measured 0.72)")
    assert(multi >= 0.99, s"multiprobe recall $multi (measured 1.00)")
    // PQ with a 10-codeword codebook resolves CLUSTERS, not members: every
    // same-cluster vector encodes identically, so within-cluster ranking is
    // tie-broken by id and recall@10 ~ 10/50. The property PQ does promise
    // at this codebook size is cluster-level precision: every returned id
    // is from the query's planted cluster.
    assert(pq >= 0.2, s"pq recall $pq (measured 0.24)")
    // SQ8 keeps 255 levels per dim — quantization is far below the planted
    // cluster separation, so ADC ranking matches the ground truth
    assert(sq >= 0.9, s"sq recall $sq (measured 0.92)")
    val pqGot = ids(Similarity.pqSearch(planted, 150L, 10))
    assert(pqGot.forall(id => id / 50L == 3L),
      s"pq returned out-of-cluster ids: ${pqGot.filterNot(_ / 50L == 3L)}")
  }

  test("uniform-random corpus: probes buy recall; measured floors hold") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val queries = Seq(0L, 101L, 202L, 303L, 404L)
    val lsh = recallAt10(e, queries, Similarity.lshSearch(_, _, 10))
    val multi = recallAt10(e, queries, Similarity.lshMultiprobe(_, _, 10))
    val ivf = recallAt10(e, queries, Similarity.ivfSearch(_, _, 10))
    val pq = recallAt10(e, queries, Similarity.pqSearch(_, _, 10))
    val sq = recallAt10(e, queries, Similarity.sqSearch(_, _, 10))
    info(f"uniform recall@10: lsh=$lsh%.2f multiprobe=$multi%.2f ivf=$ivf%.2f pq=$pq%.2f sq=$sq%.2f")
    // measured on the fixed corpus: lsh 0.02, multiprobe 0.12, ivf 0.18,
    // pq 0.14 — regression floors, not aspirations (random vectors carry
    // no locality for any structure to exploit)
    assert(multi >= lsh, s"multiprobe $multi below single-bucket lsh $lsh")
    assert(multi >= 0.10, s"multiprobe recall $multi")
    assert(ivf >= 0.15, s"ivf recall $ivf")
    assert(pq >= 0.10, s"pq recall $pq")
    // SQ8's quantization error is negligible, so unlike the bucketing
    // searchers it tracks the exact ranking even on random vectors
    // (measured 0.96; the gap to 1.0 is L2-vs-cosine ranking disagreement)
    assert(sq >= 0.85, s"sq recall $sq")
  }

  test("graph ann: nn-descent converges toward the exact graph; beam search recovers planted structure") {
    // edge recall of the linear-at-scale builder vs the exact 8-NN graph
    val exactEdges = Similarity.knnGraphEdges(planted, 8)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactEdges.size == 500 * 8)
    val r1 = Similarity.nnDescent(planted, 8, rounds = 1)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r2 = Similarity.nnDescent(planted, 8, rounds = 2)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val er1 = exactEdges.intersect(r1).size.toDouble / exactEdges.size
    val er2 = exactEdges.intersect(r2).size.toDouble / exactEdges.size
    info(f"nn-descent edge recall vs exact 8-NN graph: round1=$er1%.2f round2=$er2%.2f")
    assert(er2 >= er1, s"round 2 ($er2) lost edges vs round 1 ($er1)")
    assert(er2 >= 0.75, s"nn-descent edge recall $er2 (measured 0.79 from ring init)")

    // beam search recall@10 over both graphs, with a stride-31 coarse
    // entry layer (every planted cluster is 50 ids wide, so each holds
    // at least one entry — the HNSW upper-levels role)
    val entries = (0L until 500L by 31L).toSeq
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val exactGraph = Similarity.knnGraphEdges(planted, 8).cache()
    val nndGraph = Similarity.nnDescent(planted, 8, rounds = 2).cache()
    def beamOp(g: org.apache.spark.sql.DataFrame)(e: DataFrame, q: Long): DataFrame =
      Similarity.graphBeamSearch(g, e, q, 10, beam = 10, rounds = 3,
        entryIds = Some(entries.filterNot(_ == q)))
    val exactBeam = recallAt10(planted, queries, beamOp(exactGraph))
    val nndBeam = recallAt10(planted, queries, beamOp(nndGraph))
    info(f"planted beam-search recall@10: exact-graph=$exactBeam%.2f nn-descent-graph=$nndBeam%.2f")
    // both measured 0.94: the 0.79-edge-recall nn-descent graph loses
    // nothing at search time — beam redundancy covers the missing edges
    // (the gap to 1.0 is the L2 graph vs cosine ground truth, as for sq)
    assert(exactBeam >= 0.9, s"beam recall over exact graph $exactBeam (measured 0.94)")
    assert(nndBeam >= 0.9, s"beam recall over nn-descent graph $nndBeam (measured 0.94)")
  }

  test("hnsw hierarchy: entry-point-free layered search recovers planted structure") {
    // the point of the layer hierarchy: NO caller-supplied coarse entries
    // (contrast the stride-entry beam test above) — the deterministic
    // vec_id % 4^l layers put ~3 upper-layer nodes in every 50-id planted
    // cluster, so the descent lands in the right cluster on its own
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val recall = recallAt10(planted, queries,
      (e, q) => Similarity.hnswSearch(e, q, 10))
    info(f"planted hnsw recall@10 (no entry hints): $recall%.2f")
    assert(recall >= 0.9, s"hnsw recall $recall (measured 0.94)")
  }

  test("hnsw probe: the persisted nn-descent layer graphs serve the same recall") {
    // the serving path: layers built ONCE with nnDescent (the linear
    // builder, not the quadratic knnGraphEdges the inline form uses),
    // persisted partition-pruned, probed with zero query-time construction
    val dir = java.nio.file.Files.createTempDirectory("hnsw-probe-recall").toString
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(planted, 4, stride = 4), s"$dir/layer1")
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(planted, 8), s"$dir/layer0")
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val recall = recallAt10(planted, queries,
      (e, q) => Similarity.hnswProbe(spark, dir, e, q, 10))
    info(f"planted hnsw PROBE recall@10 (persisted layers): $recall%.2f")
    assert(recall >= 0.9, s"hnsw probe recall $recall")
    // the batched form is bit-identical to the per-query descent — same
    // entries, same frontiers, same exact scaled-int distances
    val single = queries.flatMap { q =>
      Similarity.hnswProbe(spark, dir, planted, q, 10)
        .collect().map(r => (q, r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val batched = Similarity.hnswProbeBatched(spark, dir, planted, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(batched == single,
      s"batched vs per-query divergence: ${batched.diff(single).take(3)}")
  }

  test("auto-strided hnsw probe: corpus-flat serving keeps planted recall") {
    // the auto artifact on the planted corpus (n=500 → stride 2): the
    // top stage reads the persisted ≤64-row entry table instead of
    // scanning the corpus, and planted structure still comes back
    val dir = java.nio.file.Files.createTempDirectory("hnsw-auto-recall").toString
    val st = Similarity.writeHnswAutoArtifact(planted, dir)
    info(s"auto stride on 500-vector planted corpus: $st")
    val entries = spark.read.parquet(s"$dir/entry").count()
    assert(entries <= Similarity.HnswTopTarget, s"entry table $entries rows")
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val recall = recallAt10(planted, queries,
      (e, q) => Similarity.hnswProbe(spark, dir, e, q, 10))
    info(f"planted hnsw AUTO probe recall@10: $recall%.2f")
    assert(recall >= 0.9, s"auto probe recall $recall")
    // the batched form over the auto artifact is bit-identical to the
    // per-query descent — same entry table, same frontiers, same
    // exact scaled-int distances
    val single = queries.flatMap { q =>
      Similarity.hnswProbe(spark, dir, planted, q, 10)
        .collect().map(r => (q, r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val batched = Similarity.hnswProbeBatched(spark, dir, planted, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(batched == single,
      s"auto batched vs per-query divergence: ${batched.diff(single).take(3)}")
  }

  test("ivf-graph hybrid: cell-seeded beam over the persisted graph beats plain ivf entries") {
    // the composition's claim: IVF prunes the ENTRY search to one cell,
    // the graph walk recovers cross-cell neighbors — planted recall must
    // hold the plain probe's floor (0.94), and it does one better here
    // because the seeds start inside the query's own cluster
    val dir = java.nio.file.Files.createTempDirectory("ivf-graph-recall").toString
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(planted, 8), s"$dir/layer0")
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val recall = recallAt10(planted, queries,
      (e, q) => Similarity.ivfGraphSearch(spark, s"$dir/layer0", e, q, 10))
    info(f"planted ivf-graph hybrid recall@10: $recall%.2f")
    assert(recall >= 0.94, s"hybrid recall $recall below the plain probe's 0.94")
  }

  test("pq-compressed graph walk: 8-byte descent, exact rerank recovers the ranking") {
    // the walk's every distance is an ADC code lookup (the same coarse
    // label codebook pqSearch pins at 0.24 recall on this fixture) — the
    // rerank-at-emission is what buys the recall back: everything the
    // walk VISITED is re-ranked by exact distance
    val dir = java.nio.file.Files.createTempDirectory("pq-walk-recall").toString
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(planted, 4, stride = 4), s"$dir/layer1")
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(planted, 8), s"$dir/layer0")
    val codesDir = java.nio.file.Files.createTempDirectory("pq-walk-codes").toString
    Similarity.writePqCodes(planted, codesDir)
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val recall = recallAt10(planted, queries,
      (e, q) => Similarity.pqGraphProbe(spark, dir, codesDir, e, q, 10))
    info(f"planted pq-graph walk recall@10: $recall%.2f (pq full-scan floor: 0.24)")
    assert(recall >= 0.8, s"pq walk recall $recall")
  }

  test("auto-seeded pq walk: corpus-flat seeding holds the fixed-form walk's recall") {
    // the auto variant swaps the n/stride² codes seed scan for the
    // persisted ≤64-row entry table and descends the auto hierarchy's
    // three layer graphs — the recall contract must survive the seed
    // change (the rerank-at-emission recovery argument is seed-agnostic)
    val dir = java.nio.file.Files.createTempDirectory("pq-walk-auto").toString
    val st = Similarity.writeHnswAutoArtifact(planted, dir)
    assert(st == 2, s"500-vector planted corpus should solve stride 2, got $st")
    val entryRows = spark.read.parquet(s"$dir/entry").count()
    assert(entryRows > 0 && entryRows <= Similarity.HnswTopTarget,
      s"entry table $entryRows rows exceeds ${Similarity.HnswTopTarget}")
    val codesDir = java.nio.file.Files.createTempDirectory("pq-walk-auto-codes").toString
    Similarity.writePqCodes(planted, codesDir)
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val recall = recallAt10(planted, queries,
      (e, q) => Similarity.pqGraphProbe(spark, dir, codesDir, e, q, 10))
    info(f"planted auto-seeded pq walk recall@10: $recall%.2f")
    assert(recall >= 0.8, s"auto pq walk recall $recall")

    // trained-codebook sidecar (the production path the SQL oracle can't
    // replay — Lloyd-iterated books behind the PqTrainSpec boundary):
    // the same walk over pqTrain books must hold the same recall floor
    val books = Similarity.pqTrain(planted, "vec_id", "embedding", k = 16)
    val trainedDir = java.nio.file.Files.createTempDirectory("pq-walk-trained").toString
    Similarity.writePqCodesTrained(planted, books, trainedDir)
    val trained = recallAt10(planted, queries,
      (e, q) => Similarity.pqGraphProbe(spark, dir, trainedDir, e, q, 10))
    info(f"planted auto walk over TRAINED books recall@10: $trained%.2f")
    assert(trained >= 0.8, s"trained-book walk recall $trained")
  }

  test("mmr rerank: redundant near-duplicates yield to a diverse lower-rel candidate") {
    import spark.implicits._
    // query at the origin-ish direction; a1..a3 near-identical high-rel
    // docs; b dissimilar but still relevant. Plain top-2 = {a1, a2};
    // MMR(λ=1/2) must pick a1 then b — the whole point of the operator.
    val dim = 8
    def v(xs: Double*): Array[Float] = {
      val a = new Array[Float](dim)
      xs.zipWithIndex.foreach { case (x, i) => a(i) = x.toFloat }
      a
    }
    val q = v(1, 0, 0, 0)
    val rows = Seq(
      (0L, q, 0), // the query itself
      (1L, v(0.99, 0.10, 0, 0), 0), // a1
      (2L, v(0.99, 0.11, 0, 0), 0), // a2
      (3L, v(0.99, 0.12, 0, 0), 0), // a3
      (4L, v(0.70, 0, 0.71, 0), 1)) // b: lower rel, orthogonal-ish
    val e = rows.toDF("vec_id", "embedding", "label")
    val plain = ids(Similarity.bruteForceTopK(e, 0L, 2))
    val mmr = Similarity.mmrRerank(e, 0L, depth = 4, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == Set(1L, 2L) || plain == Set(1L, 3L) || plain == Set(2L, 3L),
      s"plain top-2 should be two near-duplicates: $plain")
    assert(Set(1L, 2L, 3L).contains(mmr(1L)), s"mmr rank-1 should be the top a-doc: $mmr")
    assert(mmr(2L) == 4L, s"mmr rank-2 should be the diverse doc 4: $mmr")
    // k = depth degenerates to a permutation of the full candidate set
    val mmrIds = Similarity.mmrRerank(e, 0L, depth = 4, k = 4)
      .collect().map(_.getLong(1)).toSet
    assert(mmrIds == Set(1L, 2L, 3L, 4L), s"k = depth keeps every candidate: $mmrIds")
  }

  test("ivf nprobe curve: more probed buckets never lose recall (VERDICT r7 #5)") {
    // nprobe is THE knob a 100 TB IVF user turns: the top-nprobe centroid
    // prefixes are NESTED, and the in-bucket scan reranks by exact cosine,
    // so any candidate that displaces a true top-10 member must itself be
    // closer — i.e. also in the ground truth. Recall@10 is therefore
    // monotone non-decreasing in nprobe BY CONSTRUCTION; this pins that
    // the implementation actually delivers the guarantee, on the corpus
    // where it matters (uniform vectors, where nprobe=1 recall is low).
    val e = graft.Tables.embeddings(spark, sfDir)
    val queries = Seq(0L, 101L, 202L, 303L, 404L)
    val curve = Seq(1, 2, 4, 8).map { np =>
      np -> recallAt10(e, queries, Similarity.ivfSearch(_, _, 10, nprobe = np))
    }
    info("uniform ivf recall@10 by nprobe: " +
      curve.map { case (np, r) => f"$np=$r%.2f" }.mkString(" "))
    curve.sliding(2).foreach { case Seq((npA, a), (npB, b)) =>
      assert(b >= a, s"recall fell from $a (nprobe=$npA) to $b (nprobe=$npB)")
    }
    assert(curve.last._2 > curve.head._2 + 0.2,
      s"nprobe=8 (${curve.last._2}) should buy real recall over nprobe=1 (${curve.head._2})")
  }

  test("binary: 8 bytes/vector, shortlist-then-rerank recovers planted structure") {
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val binP = recallAt10(planted, queries, Similarity.binarySearch(_, _, 10))
    val uQueries = Seq(0L, 101L, 202L, 303L, 404L)
    val e = graft.Tables.embeddings(spark, sfDir)
    val binU = recallAt10(e, uQueries, Similarity.binarySearch(_, _, 10))
    info(f"binary recall@10: planted=$binP%.2f uniform=$binU%.2f")
    // the Hamming shortlist (R=50) keeps whole planted clusters (cluster
    // members share almost every threshold bit), and the exact-cosine
    // rerank then restores the true within-cluster order — so 1 bit/dim
    // beats raw SQ4 ranking on planted data. On uniform vectors the 64-bit
    // sketch keeps ~R/n of the corpus and recall is whatever survives the
    // shortlist. Floors are measured values.
    assert(binP >= 0.9, s"binary planted recall $binP")
    assert(binU >= 0.3, s"binary uniform recall $binU")
    // widening the shortlist is the recall knob: r=n degenerates to exact
    // brute force, so recall must be monotone-ish in r; pin the endpoints
    val full = recallAt10(e, uQueries, Similarity.binarySearch(_, _, 10, r = 2000))
    assert(full == 1.0, s"r=corpus-size rerank must equal brute force, got $full")
  }

  test("sq4: half the bytes, bounded recall loss vs sq8") {
    val queries = Seq(0L, 50L, 150L, 300L, 450L)
    val sq4p = recallAt10(planted, queries, Similarity.sqSearch(_, _, 10, levels = 15))
    val uQueries = Seq(0L, 101L, 202L, 303L, 404L)
    val e = graft.Tables.embeddings(spark, sfDir)
    val sq4u = recallAt10(e, uQueries, Similarity.sqSearch(_, _, 10, levels = 15))
    info(f"sq4 recall@10: planted=$sq4p%.2f uniform=$sq4u%.2f")
    // measured: planted 0.52, uniform 0.84 (sq8: 0.92 / 0.96). The planted
    // drop is the honest physics of 4 bits: the quantization cell
    // (hi-lo)/15 ~ 0.13 exceeds the 0.05 within-cluster perturbation, so
    // SQ4 resolves CLUSTERS crisply but blurs within-cluster ranking —
    // same regime PQ hits at a 10-codeword book. Floors are measured
    // values; the spread vs SQ8 is the documented half-the-bytes trade.
    assert(sq4p >= 0.45, s"sq4 planted recall $sq4p (measured 0.52)")
    assert(sq4u >= 0.7, s"sq4 uniform recall $sq4u (measured 0.84)")
    // cluster-level precision survives 4-bit quantization: every id
    // returned for a planted query is from the query's own cluster
    val got = ids(Similarity.sqSearch(planted, 150L, 10, levels = 15))
    assert(got.forall(id => id / 50L == 3L),
      s"sq4 returned out-of-cluster ids: ${got.filterNot(_ / 50L == 3L)}")
  }
}
