package graft.functions

import graft.vpts.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraftFunctionsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  test("registerAll exposes the native expressions and sketch UDAFs to spark.sql") {
    GraftFunctions.registerAll(spark)
    graft.Tables.documents(spark, sfDir).createOrReplaceTempView("gf_docs")
    graft.Tables.events(spark, sfDir).createOrReplaceTempView("gf_events")

    // native expressions via SQL == Column API
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(text) AS sh,
        |       size(shingle_set(text)) AS n_sh,
        |       size(shingle_hash_set(text)) AS n_hsh
        |FROM gf_docs ORDER BY doc_id""".stripMargin).collect()
    val viaCol = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.plans.SimhashExpr.simhash64(col("text")).as("sh"),
        size(graft.plans.ShingleSetExpr.shingleSet(col("text"))).as("n_sh"),
        size(graft.plans.ShingleSetExpr.shingleHashSet(col("text"))).as("n_hsh"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(_.toSeq).toSeq == viaCol.map(_.toSeq).toSeq)
    // hashed and text shingle sets have the same cardinality
    assert(viaSql.forall(r => r.getInt(2) == r.getInt(3)))

    // cosine on an embedding pair
    val cos = spark.sql(
      """SELECT cosine_scaled(a.embedding, b.embedding) AS c
        |FROM (SELECT embedding FROM parquet.`/root/testdata/sf0.001/embeddings.parquet`
        |      WHERE vec_id = 0) a
        |CROSS JOIN (SELECT embedding FROM parquet.`/root/testdata/sf0.001/embeddings.parquet`
        |      WHERE vec_id = 0) b""".stripMargin).head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)

    // sketch UDAFs run as grouped aggregates from pure SQL
    val agg = spark.sql(
      """SELECT event_type,
        |  kmv_distinct(CAST(user_id AS STRING)) AS n_users,
        |  tdigest_quartiles(CAST(round(value * 100) AS DOUBLE)) AS qs
        |FROM gf_events GROUP BY event_type ORDER BY event_type""".stripMargin)
      .collect()
    assert(agg.length >= 3)
    val exact = spark.sql(
      """SELECT event_type, count(DISTINCT user_id) AS n FROM gf_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
      .collect().map(_.getLong(1))
    // events groups stay far under k=4096 at sf0.001: KMV is exact
    assert(agg.map(_.getLong(1)).sameElements(exact))
    assert(agg.forall(_.getSeq[Double](2).length == 3))

    // top-k by value and heavy-hitter words
    val tk = spark.sql(
      """SELECT topk3_by(CAST(round(value * 100) AS BIGINT), event_id) AS t
        |FROM gf_events""".stripMargin).head().getString(0)
    assert(tk.split("\\|").length == 3)
    val tw = spark.sql("SELECT topk_words(text) AS w FROM gf_docs").head().getString(0)
    assert(tw.split(",").length == 5)

    // term_stats from SQL (literal terms fold at plan time) == Column API
    val tsSql = spark.sql(
      """SELECT doc_id, term_stats(text, 'vector', 'spark') AS ts
        |FROM gf_docs ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    val tsCol = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.plans.TermStatsExpr.termStats(col("text"), Seq("vector", "spark")).as("ts"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(tsSql.toSeq == tsCol.toSeq)

    // heavy_keys: exact in the under-capacity regime
    val hh = spark.sql(
      "SELECT heavy_keys(event_type) AS h FROM gf_events").head().getString(0)
    val counts = hh.split(",").map { kv =>
      val i = kv.lastIndexOf(':'); (kv.take(i), kv.drop(i + 1).toLong) }.toMap
    val truth = spark.sql(
      "SELECT event_type, count(*) AS n FROM gf_events GROUP BY event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == truth)
  }

  test("heavy-keys render/parse round-trips keys containing separators") {
    import graft.plans.HeavyKeys
    // keys are arbitrary column values: commas, colons, percents, and
    // compositions like "x:1,y" must survive the string rendering intact
    val nasty = Map("a,b" -> 5L, "c:d" -> 4L, "x:1,y" -> 3L,
      "100%," -> 2L, "plain" -> 1L, "%2C" -> 7L)
    val parsed = HeavyKeys.parse(HeavyKeys.render(nasty)).toMap
    assert(parsed == nasty)
    // rendered order is (-count, key); parse preserves it
    val ordered = HeavyKeys.parse(HeavyKeys.render(nasty)).map(_._2)
    assert(ordered == ordered.sorted(Ordering[Long].reverse))
    // detectHotKeys survives comma-bearing keys end-to-end
    import spark.implicits._
    val df = (Seq.fill(60)("hot,key") ++ Seq.fill(3)("cold:key") ++
      (0 until 20).map(i => s"k$i")).toDF("k")
    val hot = graft.functions.ScalePatterns.detectHotKeys(df, "k", minFrac = 0.3)
    assert(hot == Seq("hot,key"), s"got $hot")
  }

  test("GraftExtensions and registerAll install the same SQL surface, once") {
    import org.apache.spark.sql.SparkSession
    import graft.plans.{AsOfJoin, AsOfJoinStrategy}
    val viaExt = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions()).create()
    // create() makes the new session the active and default one
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    val viaReg = spark.newSession()
    GraftFunctions.registerAll(viaReg)
    GraftFunctions.registerAll(viaReg)
    def names(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    val builtin = names(spark.newSession())
    val ext = names(viaExt) -- builtin
    val reg = names(viaReg) -- builtin
    assert(ext == reg, s"only via the extension: ${ext -- reg}; only via registerAll: ${reg -- ext}")
    assert(Set("minhash_sig8", "lsh_sig", "simhash64", "term_stats",
      "tdigest_quartiles", "heavy_keys").subsetOf(ext), s"got $ext")
    // the as-of join strategy is planned with exactly once on either path,
    // however often the install runs
    for (s <- Seq(viaExt, viaReg)) {
      AsOfJoin.ensureRegistered(s)
      assert(s.sessionState.planner.strategies.count(_ == AsOfJoinStrategy) == 1)
    }
  }
}
