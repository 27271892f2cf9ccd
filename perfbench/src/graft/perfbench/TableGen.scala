package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Seeded generator of the registry queries' input tables, in the shape of
  * the synthetic test tables (TESTDATA.md): `documents` (texts of 10..100
  * words over the same 31-word vocabulary, so the queries' hard-coded
  * terms occur), `embeddings` (64-dim unit f32 vectors, labels 0..9) and
  * `lineitem` (TPC-H-like columns). Each table is one parquet file
  * `<dir>/<name>.parquet`, the layout `graft.Tables` and the DuckDB oracle
  * (`scripts/check.py`) read. A few documents are planted exact or
  * near-duplicates of earlier ones, so the dedup operators find work.
  */
object TableGen {

  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val Langs = Seq("en" -> 0.44, "zh" -> 0.59, "es" -> 0.74, "de" -> 0.88, "fr" -> 1.0)

  val Dims = 64

  /** Writes `documents`, `embeddings` and `lineitem` under `dir`. */
  def write(spark: SparkSession, dir: Path, seed: Long, docs: Int, vectors: Int,
      lineitems: Int): Unit = {
    Files.createDirectories(dir)
    single(spark, dir, "documents", documents(seed, docs), StructType(Seq(
      StructField("doc_id", LongType, false), StructField("text", StringType, false),
      StructField("lang", StringType, false), StructField("source", StringType, false),
      StructField("n_chars", LongType, false))))
    single(spark, dir, "embeddings", embeddings(seed, vectors), StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), false),
      StructField("label", IntegerType, false))))
    single(spark, dir, "lineitem", lineitem(seed, lineitems), StructType(Seq(
      StructField("l_orderkey", LongType, false), StructField("l_partkey", LongType, false),
      StructField("l_suppkey", LongType, false), StructField("l_linenumber", IntegerType, false),
      StructField("l_quantity", DoubleType, false), StructField("l_extendedprice", DoubleType, false),
      StructField("l_discount", DoubleType, false), StructField("l_tax", DoubleType, false),
      StructField("l_returnflag", StringType, false), StructField("l_linestatus", StringType, false),
      StructField("l_shipdate", TimestampNTZType, false))))
  }

  /** One table as a single parquet file `<dir>/<name>.parquet`. */
  private def single(spark: SparkSession, dir: Path, name: String, rows: Seq[Row],
      schema: StructType): Unit = {
    val tmp = dir.resolve(name + ".tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"$tmp: no parquet part written"))
    Files.move(part, dir.resolve(name + ".parquet"), StandardCopyOption.REPLACE_EXISTING)
    Etl.deleteTree(tmp)
  }

  private def rng(seed: Long, table: Int) = new SplittableRandom(seed * 1000003L + table)

  def documents(seed: Long, n: Int): Seq[Row] = {
    val r = rng(seed, 1)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val roll = r.nextDouble()
      texts(i) =
        if (i >= 20 && roll < 0.02) texts(r.nextInt(i))
        else if (i >= 20 && roll < 0.06) {
          val ws = texts(r.nextInt(i)).split(" ")
          ws(r.nextInt(ws.length)) = Vocabulary(r.nextInt(Vocabulary.size))
          ws.mkString(" ")
        } else Seq.fill(10 + r.nextInt(91))(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")
      val u = r.nextDouble()
      val lang = Langs.find(u < _._2).get._1
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  def embeddings(seed: Long, n: Int): Seq[Row] = {
    val r = rng(seed, 2)
    val centers = Array.fill(10, Dims)(r.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(Dims)(d => centers(label)(d) * 0.3 + gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  def lineitem(seed: Long, n: Int): Seq[Row] = {
    val r = rng(seed, 3)
    val first = LocalDateTime.of(1995, 1, 2, 0, 0)
    (0 until n).map { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      val price = math.rint(qty * (900 + r.nextInt(2100)) * 100 + r.nextInt(100)) / 100
      val shipped = first.plusDays(r.nextInt(2498).toLong)
      Row((i / 4 + 1).toLong, (1 + r.nextInt(2000)).toLong, (1 + r.nextInt(100)).toLong,
        i % 4 + 1, qty, price, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), if (shipped.getYear < 1999) "F" else Seq("F", "O")(r.nextInt(2)),
        shipped)
    }
  }
}
