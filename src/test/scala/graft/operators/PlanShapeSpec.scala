package graft.operators

import graft.vpts.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale properties the round-2 rework
  * bought (no all-pairs joins, shuffle-free argmin, broadcast dims) are
  * asserted on the physical plans so a future edit can't silently
  * reintroduce a quadratic join or an n-row exchange.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("signature-partitioned ANN layout prunes probe scans to probed buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("sig-part").toString
    val e = graft.Tables.embeddings(spark, sfDir)
    Similarity.writeSigPartitioned(e, dir)
    val nBuckets = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("sig="))
    assert(nBuckets > 2, s"need several buckets for the test, got $nBuckets")

    // query = vec 0's signature, computed once driver-side (control plane)
    val qRow = spark.read.parquet(dir).filter(col("vec_id") === 0)
      .select(col("sig"), col("embedding")).head()
    val qSig = qRow.getAs[Number](0).longValue // partition col reads back as int
    val qVec = qRow.getSeq[Float](1).map(_.toDouble).toArray

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }
      assert(scans.nonEmpty, "no file scan in plan")
      scans.map(_.metrics("numFiles").value).sum
    }

    // single probe: exactly the query's bucket directory (one file: the
    // writer repartitions on sig)
    val single = Similarity.searchSigPartitioned(spark, dir, qVec, Seq(qSig))
    assert(scannedFiles(single) == 1L)

    // multi-probe: the 9 probe keys select at most 9 buckets (fewer when a
    // flipped signature has no vectors), never the whole index
    val probes = qSig +: (0 until 8).map(j => qSig ^ (1L << j))
    val multi = Similarity.searchSigPartitioned(spark, dir, qVec, probes)
    val mf = scannedFiles(multi)
    assert(mf >= 1L && mf <= 9L && mf < nBuckets,
      s"multi-probe scanned $mf of $nBuckets buckets")
  }

  test("persisted ann-graph lookup scans only the frontier's bucket partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ann-graph-prune").toString
    val e = graft.Tables.embeddings(spark, sfDir)
    Similarity.writeAnnGraphLayer(Similarity.nnDescent(e, 8), dir)
    val nBuckets = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("b="))
    assert(nBuckets == 16, s"expected 16 u-buckets, got $nBuckets")
    // a beam frontier touching 3 distinct buckets must scan exactly those
    val frontier = Seq(1L, 2L, 19L) // buckets 1, 2, 3 (19 % 16)
    val look = Similarity.annGraphLookup(spark, dir, 8)(frontier)
    look.collect()
    // the lookup plan has a Window, so AQE wraps the scan in query
    // stages — descend through the adaptive wrappers to find it
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val fs = scans(look.queryExecution.executedPlan)
    assert(fs.nonEmpty, "no file scan in lookup plan")
    val files = fs.map(_.metrics("numFiles").value).sum
    assert(files == 3L, s"lookup scanned $files bucket files, wanted 3 of $nBuckets")
  }

  test("batched hnsw probe rescores on executors at |Q|=500 — no driver distance loop") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("hnsw-batch-500").toString
    val e = graft.Tables.embeddings(spark, sfDir)
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(e, 4, stride = 4), s"$dir/layer1")
    Similarity.writeAnnGraphLayer(Similarity.nnDescent(e, 8), s"$dir/layer0")
    // the rescore is a Spark PLAN, not a driver loop: pairs ⋈ corpus ⋈
    // broadcast query vectors, distances as the codegen'd native expr
    val qEmb = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val pairs = (0L until 10L).flatMap(q => (100L until 110L).map((q, _)))
    val rp = Similarity.rescorePlan(e, qEmb, pairs)
    assert(rp.collect().length == 100, "rescore must score every pair")
    val p = rp.queryExecution.executedPlan.toString
    assert(p.contains("neg_sq_dist_scaled"),
      s"rescore plan lacks the native distance expression:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"rescore plan lacks the broadcast query-vector join:\n$p")
    // the full serving-throughput shape: every corpus vector is a query
    val queries = (0L until 500L).toSeq
    val out = Similarity.hnswProbeBatched(spark, dir, e, queries, 5).collect()
    assert(out.length == 500 * 5, s"|Q|=500 probe returned ${out.length} rows")
    assert(out.map(_.getLong(0)).distinct.length == 500)
    // the |Q| guard fails by name, before any job runs
    val tooMany = (0L to 65536L).toSeq
    val ex = intercept[IllegalArgumentException] {
      Similarity.hnswProbeBatched(spark, dir, e, tooMany, 5)
    }
    assert(ex.getMessage.contains("exceeds"))
  }

  test("auto-strided hnsw: the entry table is bounded at any corpus size") {
    // 500-vector corpus vs the 4×-larger 2000-vector corpus: the stride
    // adapts (2 vs 4) and the persisted entry table — the probe's WHOLE
    // top stage — stays ≤ HnswTopTarget rows. This is the corpus-flat
    // claim: no serving stage's input grows with n.
    val sizes = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1").map { d =>
      val dir = Similarity.stagedHnswGraphAuto(spark, d)
      val n = graft.Tables.embeddings(spark, d).count()
      val entries = spark.read.parquet(s"$dir/entry").count()
      assert(entries > 0 && entries <= Similarity.HnswTopTarget,
        s"$d: entry table $entries rows exceeds ${Similarity.HnswTopTarget}")
      (n, entries)
    }
    assert(sizes.map(_._1).distinct.size == 2, "need two distinct corpus sizes")
    info(s"corpus→entry rows: ${sizes.map { case (n, e) => s"$n→$e" }.mkString(", ")}")
  }

  test("no query plan contains a cartesian product or nested-loop join on big sides") {
    // BroadcastNestedLoopJoin with a one-row build side is fine (the ivf
    // argmin); CartesianProduct is never fine. q_odim_ingest stages its
    // corpus from the reference VP fixtures, so it is planned only where
    // they exist.
    val haveFixtures = java.nio.file.Files.isDirectory(VptsOps.OdimIngestFixtureDir)
    if (!haveFixtures)
      info(s"q_odim_ingest not planned: ${VptsOps.OdimIngestFixtureDir} is not a directory")
    graft.Registry.all.filter(q => haveFixtures || q.name != "q_odim_ingest").foreach { q =>
      val p = plan(q.fn(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"${q.name} plans a cartesian product:\n$p")
    }
  }

  test("ivf assign has no exchange on the n-row path") {
    val p = plan(Similarity.qAnnIvfAssign(spark, sfDir))
    // allowed exchanges: the three tiny centroid-aggregation exchanges +
    // the final presentation sort; the n-row side goes scan -> project ->
    // broadcast join with nothing keyed on vec_id until the output sort
    assert(count(p, "Exchange") - count(p, "BroadcastExchange") <= 4, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      s"n-row shuffle reappeared:\n$p")
    assert(!p.contains("Window"), s"row_number window reappeared:\n$p")
  }

  test("embedding near-dup joins on bucketed candidates, not label") {
    val p = plan(Dedup.qEmbeddingNearDup(spark, sfDir))
    assert(!p.toLowerCase.contains("label"), s"label-keyed operation reappeared:\n$p")
  }

  test("jaccard pairs have no shingle-explode self-join") {
    val p = plan(Dedup.qJaccardPairs(spark, sfDir))
    // exactly the candidate bucket-collect + two id-keyed joins back to the
    // shingle arrays; a shingle self-join would show a join keyed on the
    // exploded gram column
    assert(!p.contains("SortMergeJoin") || !p.contains(" g#"), p)
    assert(p.contains("intersect_size_sorted"), p)
  }

  test("decontamination broadcasts the benchmark gram set") {
    val p = plan(PipelineOps.qDecontaminate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("star joins broadcast their dimension sides") {
    val p3 = plan(Relational.q3ShippingPriority(spark, sfDir))
    assert(p3.contains("BroadcastHashJoin"), p3)
    assert(p3.contains("TakeOrderedAndProject"), p3)
  }

  test("bucketed range join equals the naive interval join without a nested loop") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, sfDir).select(
      datediff(to_date(col("l_shipdate")), lit("1995-01-01")).cast("long").as("ship_day"),
      col("l_orderkey"))
    val iv = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("iv_key"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as("start_day"))
      .withColumn("end_day", col("start_day") + 3)
    val naive = li.join(iv,
      col("ship_day") >= col("start_day") && col("ship_day") <= col("end_day"))
      .select(col("l_orderkey"), col("iv_key"), col("ship_day"))
      .collect().map(_.toSeq).toSet
    val bucketed = Relational.rangeJoinBucketed(li, "ship_day", iv,
      "start_day", "end_day", bucketWidth = 2)
      .select(col("l_orderkey"), col("iv_key"), col("ship_day"))
    assert(bucketed.collect().map(_.toSeq).toSet == naive)
    // exactly once per pair (the single-meeting-bucket property)
    assert(bucketed.count() == naive.size)
    // and the plan is an equi-join on the bucket, not a nested loop
    val p = plan(bucketed)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
    assert(p.contains("__bucket"), p)
  }

  test("aggregator top-k per group runs window-free with partial aggregation") {
    val df = Analytics.qTopPerGroupAgg(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Window"), s"window reappeared in aggregator top-k:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"), p)
    // and it agrees with the window formulation on data
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("c").desc, col("o_orderkey"))
    val viaWindow = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        graft.functions.Exact.cents(col("o_totalprice")).cast("long").as("c"),
        col("o_orderkey"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy(col("o_orderpriority"))
      .agg(concat_ws("|", collect_list(concat_ws(":", col("c"), col("o_orderkey"))))
        .as("top3"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaAgg = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaAgg == viaWindow)
  }

  test("q1 aggregates partially before its exchange and prunes the scan") {
    val p = plan(Relational.q1PricingSummary(spark, sfDir))
    assert(p.contains("partial_"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }
}
