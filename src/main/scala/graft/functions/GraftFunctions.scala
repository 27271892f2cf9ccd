package graft.functions

import graft.plans._
import org.apache.spark.sql.{Encoder, Encoders, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Aggregator

/** One-call SQL surface: registers every custom expression and sketch
  * aggregator as a session temp function, so a pure-`spark.sql` user (BI
  * tool, notebook, thrift server) reaches the whole library without the
  * Column API:
  *
  *   graft.functions.GraftFunctions.registerAll(spark)
  *   spark.sql("SELECT tdigest_quartiles(value), kmv_distinct(user_id)
  *              FROM events GROUP BY event_type")
  *
  * Expressions register through the Catalyst function registry (they stay
  * codegen'd native expressions, not UDF wrappers); aggregators register
  * as typed UDAFs (ObjectHashAggregate with map-side partials, exactly as
  * from the Column API).
  */
object GraftFunctions {

  /** Every SQL function of the library as (name, implementing class,
    * builder). [[registerAll]] and [[graft.GraftExtensions]] both install
    * exactly this list, so the two ways in expose the same names.
    */
  private[graft] val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    // native expressions
    ("minhash_sig8", classOf[MinhashSigExpr], exprs => MinhashSigExpr(exprs.head)),
    ("lsh_sig", classOf[LshSigExpr], exprs => LshSigExpr(exprs.head)),
    ("simhash64", classOf[SimhashExpr], exprs => SimhashExpr(exprs.head)),
    ("shingle_set", classOf[ShingleSetExpr], exprs => ShingleSetExpr(exprs.head)),
    ("shingle_hash_set", classOf[ShingleSetExpr],
      exprs => ShingleSetExpr(exprs.head, hashed = true)),
    ("cosine_scaled", classOf[CosineExpr], exprs => CosineExpr(exprs(0), exprs(1))),
    // term_stats(text, 'term1', 'term2', ...) -> [dl, tf1, tf2, ...];
    // the term arguments must be string literals (folded at plan time)
    ("term_stats", classOf[TermStatsExpr],
      exprs => TermStatsExpr(exprs.head, exprs.tail.map(e => e.eval().toString))),
    ("token_counts", classOf[TokenCountsExpr], exprs => TokenCountsExpr(exprs.head)),
    // sketch aggregators (fixed, documented parameterizations — SQL
    // functions can't take constructor args; use the Column API to tune)
    aggregate("tdigest_quartiles",
      new TDigestAggregator(200.0, Seq(0.25, 0.5, 0.75)), Encoders.scalaDouble),
    aggregate("kmv_distinct", new KmvDistinctAggregator(4096), Encoders.STRING),
    aggregate("kmv_set", new KmvSetAggregator(4096), Encoders.STRING),
    aggregate("topk3_by", new TopKAggregator(3), ExpressionEncoder[(Long, Long)]()),
    aggregate("topk_words", new TopKWordsAggregator(k = 5, capacity = 4096),
      Encoders.STRING),
    aggregate("cms_total", new CmsFreqAggregator(4, 1024, Seq.empty), Encoders.STRING),
    aggregate("heavy_keys", new HeavyKeysAggregator(256), Encoders.STRING))

  private def aggregate[IN, BUF, OUT](name: String, agg: Aggregator[IN, BUF, OUT],
      in: Encoder[IN]): (String, Class[_], Seq[Expression] => Expression) =
    (name, agg.getClass, GraftSqlBridge.aggregatorBuilder(agg, in))

  /** Installs [[sqlFunctions]] as session temp functions and the as-of
    * join strategy; calling it again changes nothing.
    */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((name, _, build) <- sqlFunctions)
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    AsOfJoin.ensureRegistered(spark)
  }
}
