package graft.perfbench

import graft.{CheckpointScope, QueryDef}
import graft.operators.{Dedup, PipelineOps, Relational, Similarity, TextOps}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object QuerySuite {
  /** The `bench = true` registry queries run here, one or two per operator
    * module: Relational's pricing aggregate, Dedup's LSH candidates,
    * Similarity's brute-force top-k and checkpointed k-means, TextOps' BM25,
    * and the PipelineOps funnel (exact and Jaccard near-duplicate removal,
    * decontamination, splits). See perfbench/README.md for the benched
    * queries left out and why.
    */
  val Names: Seq[String] = Seq("q1_pricing_summary", "q_dedup_lsh_candidates",
    "q_ann_bruteforce_topk", "q_ann_kmeans", "q_text_bm25", "q_pipeline_prep")
}

/** Registry queries over seeded tables ([[TableGen]]). One operation runs
  * every query of [[QuerySuite.Names]] once, each materialized to the noop
  * sink; its steps are the per-query times. As in `graft.Bench`, the
  * per-query checkpoint blocks are drained after each query, outside its
  * time. The outputs are checked once per invocation: the warm-up
  * operation writes each query's result as parquet under [[oracleOut]],
  * plus `oracle_sql.json`, for `scripts/check.py` (the DuckDB oracle).
  */
final class QuerySuite(spark: SparkSession, work: Path, seed: Long, docs: Int, vectors: Int,
    lineitems: Int) extends Workload {
  // the operator modules' own lists, not graft.Registry: the registry also
  // loads modules whose initialisation sweeps /tmp
  private val queries: Seq[QueryDef] = {
    val byName = (Relational.entries ++ Dedup.entries ++ Similarity.entries ++
      TextOps.entries ++ PipelineOps.entries).map(q => q.name -> q).toMap
    QuerySuite.Names.map { n =>
      val q = byName.getOrElse(n, throw new IllegalArgumentException(s"no registry query $n"))
      require(q.bench && q.oracle.isDefined, s"$n is not a benched query with an oracle")
      q
    }
  }
  private var dir: Path = _
  private val failures = mutable.ArrayBuffer.empty[String]

  def tables: Path = dir.resolve("tables")
  def oracleOut: Path = dir.resolve("oracle_out")

  def items: Int = queries.size

  def generate(round: Int): Unit = {
    if (dir != null) Etl.deleteTree(dir)
    dir = work.resolve(s"query_suite_$round")
    TableGen.write(spark, tables, seed, docs, vectors, lineitems)
  }

  def clearOutputs(): Unit = failures.clear()

  private def materialize(q: QueryDef): Unit =
    q.fn(spark, tables.toString).write.mode("overwrite").format("noop").save()

  /** Runs `body` for one query; a throwing query is recorded and the
    * operation fails after the remaining queries ran.
    */
  private def guarded(q: QueryDef)(body: => Unit): Unit =
    try body
    catch { case e: Exception =>
      failures += s"${q.name}: $e"
      e.printStackTrace()
    }
  private def failIfAny(): Unit =
    if (failures.nonEmpty) throw new IllegalStateException(s"${failures.size} queries failed")

  def op(): Seq[(String, Double)] = {
    val steps = queries.map { q =>
      var s = 0.0
      guarded(q) { s = Stats.time(materialize(q)) }
      CheckpointScope.drain()
      q.name -> s
    }
    failIfAny()
    steps
  }

  def tracedOp(t: Tracer, c: SparkCollector): Map[String, Double] = {
    val got = mutable.Map.empty[String, Double]
    var steps, storage = 0.0
    queries.foreach { q =>
      val plan0 = c.planS()
      val t0 = System.nanoTime()
      guarded(q) {
        val df = t.span(s"operators.${q.name}.build") { q.fn(spark, tables.toString) }
        t.span(s"operators.${q.name}.materialize") {
          df.write.mode("overwrite").format("noop").save()
        }
      }
      steps += (System.nanoTime() - t0) / 1e9
      got(s"operators.${q.name}.plan_s") = c.planS() - plan0
      storage = math.max(storage, PerfBench.storageMb(spark))
      CheckpointScope.drain()
    }
    failIfAny()
    got("steps_s") = steps
    got("spark.storage_mem_mb") = storage
    got.toMap
  }

  /** Failed queries of the last operation. Timed outputs go to the noop
    * sink; the warm-up's outputs are checked against the oracle.
    */
  def check(): Outcome = Outcome(queries.size, failures.size, Nil, failures.toSeq)

  def probes(): Map[String, Double] = Map.empty

  /** The set-up's warm-up operation: every query once, its result written
    * as one parquet file under `oracleOut/<name>`, and the oracle SQL as
    * `oracleOut/oracle_sql.json`.
    */
  override def warmUp(): Unit = {
    Files.createDirectories(oracleOut)
    queries.foreach { q =>
      guarded(q) {
        q.fn(spark, tables.toString).coalesce(1).write.mode("overwrite")
          .parquet(oracleOut.resolve(q.name).toString)
      }
      CheckpointScope.drain()
    }
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    Files.writeString(oracleOut.resolve("oracle_sql.json"),
      queries.map(q => s"${str(q.name)}: ${str(q.oracle.get)}").mkString("{", ",\n", "}"))
    failIfAny()
  }

  /** SHA-256 of each written result's rows, rendered as text and sorted. */
  def outputDigests(): Seq[(String, String)] = queries.flatMap { q =>
    val p = oracleOut.resolve(q.name)
    if (!Files.isDirectory(p)) None
    else {
      val text = spark.read.parquet(p.toString).collect().map(_.toString).sorted.mkString("\n")
      Some(q.name -> Checks.sha256(text.getBytes(UTF_8)))
    }
  }
}
