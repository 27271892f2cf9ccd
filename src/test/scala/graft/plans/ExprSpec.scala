package graft.plans

import graft.vpts.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class ExprSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  test("custom expressions compile and run under forced codegen (no fallback)") {
    import org.apache.spark.sql.functions._
    // fail instead of silently falling back to the interpreted path: this
    // proves the doGenCode implementations produce compilable Java
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val docs = s2.read.parquet(s"$sfDir/documents.parquet").limit(20)
    val emb = s2.read.parquet(s"$sfDir/embeddings.parquet").limit(20)
    val a = docs.select(
        MinhashSigExpr.minhashSig8Native(col("text")).as("mh"),
        SimhashExpr.simhash64(col("text")).as("sh"))
      .collect()
    assert(a.length == 20 && a.forall(r => r.getSeq[String](0).length == 8))
    val b = emb.select(LshSigExpr.lshSigNative(col("embedding")).as("sig")).collect()
    assert(b.length == 20 && b.forall(!_.isNullAt(0)))
    // null input and short-text (< k words) null result survive codegen
    import s2.implicits._
    val edge = Seq(Some("one two"), None, Some("a b c d")).toDF("text")
      .select(MinhashSigExpr.minhashSig8Native(col("text")).as("mh"))
      .collect()
    assert(edge(0).isNullAt(0) && edge(1).isNullAt(0) && !edge(2).isNullAt(0))
  }

  test("minhash_sig8 registered as a SQL function matches the Column API") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.registerAll(spark)
    graft.Tables.documents(spark, sfDir).createOrReplaceTempView("docs_t")
    val viaSql = spark.sql(
      "SELECT doc_id, concat_ws('|', minhash_sig8(text)) AS sig FROM docs_t ORDER BY doc_id")
      .collect().map(_.getString(1))
    val viaCol = graft.Tables.documents(spark, sfDir).orderBy("doc_id")
      .select(concat_ws("|", MinhashSigExpr.minhashSig8Native(col("text"))))
      .collect().map(_.getString(0))
    assert(viaSql.sameElements(viaCol))
    assert(viaSql.head.split("\\|").length == 8)
  }

  test("native expressions match the declarative formulations") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val d = graft.Tables.documents(spark, sfDir).limit(50)
    val native = d.select(col("doc_id"),
      concat_ws("|", MinhashSigExpr.minhashSig8Native(col("text"))).as("sig"))
      .orderBy("doc_id").collect().map(_.getString(1))
    val declarative = d.select(col("doc_id"),
      concat_ws("|", minhashSig8(shingles(words(col("text")), 3))).as("sig"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(native.sameElements(declarative))
  }

  test("bloom_might_contain matches set membership under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import s2.implicits._
    val keys = (0L until 200L).filter(_ % 3 == 0)
    val bloom = keys.toDF("k").stat.bloomFilter("k", 1000, 0.001)
    val probed = (0L until 200L).toDF("k")
      .select(col("k"), BloomMightContainExpr.mightContain(col("k"), bloom).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // no false negatives ever; at fpp 0.001 over 133 non-members, false
    // positives are overwhelmingly unlikely but tolerated by the contract
    assert(keys.forall(probed(_)), "false negative from codegen'd bloom probe")
    assert((0L until 200L).count(k => k % 3 != 0 && probed(k)) <= 2)
    // null-safety through the unary expression
    val withNull = Seq[Option[Long]](Some(3L), None).toDF("k")
      .select(BloomMightContainExpr.mightContain(col("k"), bloom).as("hit"))
      .collect()
    assert(withNull(0).getBoolean(0) && withNull(1).isNullAt(0))
  }

  test("shingle_set and argmin_l2 match their declarative forms under forced codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val d = s2.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val native = d.select(col("doc_id"),
        concat_ws("|", ShingleSetExpr.shingleSet(col("text"), 3)).as("sh"))
      .orderBy("doc_id").collect().map(_.getString(1))
    val declarative = d.select(col("doc_id"),
        concat_ws("|", array_distinct(shingles(words(col("text")), 3))).as("sh"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(native.sameElements(declarative))

    val e = s2.read.parquet(s"$sfDir/embeddings.parquet").limit(30)
      .select(col("vec_id"), graft.functions.EmbeddingFunctions.scaled(col("embedding")).as("v"))
    val cents = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
      .agg(sort_array(collect_list(struct(col("c_id"), col("cv")))).as("cents"))
    val nat = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), ArgminL2Expr.argminL2(col("v"), col("cents")).as("best"))
      .orderBy("vec_id").collect().map(r => (r.getStruct(1).getDouble(0), r.getStruct(1).getLong(1)))
    val dec = e.crossJoin(broadcast(cents))
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct(
          aggregate(zip_with(col("v"), c.getField("cv"), (x, cc) => (x - cc) * (x - cc)),
            lit(0.0d), (acc, x) => acc + x).as("dist"),
          c.getField("c_id").as("c_id")))))
      .select(col("vec_id"), col("best"))
      .orderBy("vec_id").collect().map(r => (r.getStruct(1).getDouble(0), r.getStruct(1).getLong(1)))
    assert(nat.sameElements(dec))

    // cosine: native == declarative bit-for-bit under forced codegen
    val pairs = s2.read.parquet(s"$sfDir/embeddings.parquet").limit(40)
      .crossJoin(s2.read.parquet(s"$sfDir/embeddings.parquet").limit(3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val natCos = pairs.select(col("vec_id"), col("qid"),
        graft.plans.CosineExpr.cosine(col("embedding"), col("qe")).as("c"))
      .orderBy("vec_id", "qid").collect().map(_.getDouble(2))
    val decCos = pairs.select(col("vec_id"), col("qid"),
        graft.functions.EmbeddingFunctions.cosineDeclarative(col("embedding"), col("qe")).as("c"))
      .orderBy("vec_id", "qid").collect().map(_.getDouble(2))
    assert(natCos.length == 120 &&
      natCos.zip(decCos).forall { case (x, y) =>
        java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y) })

    // two cosines in ONE projection with non-nullable inputs: the codegen'd
    // locals must not collide (fresh names), and both stay correct
    import s2.implicits._
    val two = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
      .select(graft.plans.CosineExpr.cosine(col("a"), col("b")).as("ab"),
        graft.plans.CosineExpr.cosine(col("a"), col("c")).as("ac"))
      .head()
    assert(math.abs(two.getDouble(0) - 1.0) < 1e-12 && math.abs(two.getDouble(1)) < 1e-12)
  }

  test("word_segments matches the declarative slice chain under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val d = s2.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val native = d.select(col("doc_id"),
        concat_ws("|", SegmentsExpr.segments(col("text"), 3)).as("s"))
      .orderBy("doc_id").collect().map(_.getString(1))
    val ws = split(col("text"), " ")
    val segArr = transform(
      sequence(lit(0L), ceil(size(ws).cast("double") / 3).cast("long") - 1),
      i => array_join(slice(ws, (i * 3 + 1).cast("int"), lit(3)), " "))
    val declarative = d.select(col("doc_id"), concat_ws("|", segArr).as("s"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(native.sameElements(declarative))
    // trailing-space and short-text edges agree too
    import s2.implicits._
    val edge = Seq("a b c d", "a b c d e", "x", "a b  c ").toDF("text")
    val n2 = edge.select(concat_ws("|", SegmentsExpr.segments(col("text"), 2)).as("s"))
      .collect().map(_.getString(0))
    assert(n2.toSeq == Seq("a b|c d", "a b|c d|e", "x", "a b| c|"))
  }

  test("term_stats matches size(split)/size(filter) under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val terms = Seq("vector", "stream", "spark")
    val d = s2.read.parquet(s"$sfDir/documents.parquet").limit(80)
    val ts = TermStatsExpr.termStats(col("text"), terms)
    val native = d.select(col("doc_id") +: element_at(ts, 1).as("dl") +:
        terms.zipWithIndex.map { case (t, i) => element_at(ts, i + 2).as(s"tf_$t") }: _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    val w = split(col("text"), " ")
    val declarative = d.select(col("doc_id") +: size(w).as("dl") +:
        terms.map(t => size(filter(w, x => x === t)).as(s"tf_$t")): _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(native.toSeq == declarative.toSeq)
    // edges: empty text (one empty token), adjacent repeats, trailing space
    import s2.implicits._
    val edge = Seq("", "spark spark spark", "vector ", " ").toDF("text")
    val ts2 = TermStatsExpr.termStats(col("text"), terms)
    val got = edge.select((1 to 4).map(i => element_at(ts2, i)): _*)
      .collect().map(_.toSeq)
    assert(got.toSeq == Seq(Seq(1, 0, 0, 0), Seq(3, 0, 0, 3),
      Seq(2, 1, 0, 0), Seq(2, 0, 0, 0)))
  }

  test("token_counts matches split/regexp_extract_all under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val d = s2.read.parquet(s"$sfDir/documents.parquet").limit(80)
    val tc = TokenCountsExpr.tokenCounts(col("text"))
    val native = d.select(col("doc_id"), element_at(tc, 1), element_at(tc, 2))
      .orderBy("doc_id").collect().map(_.toSeq)
    val declarative = d.select(col("doc_id"),
        size(split(col("text"), " ")),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(native.toSeq == declarative.toSeq)
    // edges: empty text, runs split by case/digits/punct, multi-space
    import s2.implicits._
    val edge = Seq("", "abc123def", "a  b", "A!b", "x9 9x").toDF("text")
    val tc2 = TokenCountsExpr.tokenCounts(col("text"))
    val got = edge.select(element_at(tc2, 1), element_at(tc2, 2))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    // "abc123def" -> abc|123|def = 3; "A!b" -> A,!,b = 3; "x9 9x" -> x,9 + 9,x = 4
    assert(got.toSeq == Seq((1, 0), (1, 3), (3, 2), (1, 3), (2, 4)))
    // non-BMP: a surrogate pair is ONE [^a-z0-9 ] match in both regex
    // engines; the native walk must count per code point (ADVICE pin).
    // Also a lone (unpaired) high surrogate still counts as one.
    val nonBmp = Seq("a😀b", "😀😀", "a\uD83Db").toDF("text")
    val tc3 = TokenCountsExpr.tokenCounts(col("text"))
    val cmp = nonBmp.select(element_at(tc3, 2).as("native"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    cmp.foreach { case (n, re) => assert(n == re, s"native $n != regex $re") }
    assert(cmp.map(_._1).toSeq == Seq(3, 2, 3))
  }

  test("hashed shingle set matches hash-of-declarative-set under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val d = s2.read.parquet(s"$sfDir/documents.parquet").limit(50)
    // declarative twin: distinct shingle TEXT first, then the 60-bit
    // md5-prefix hash — the exact order the DuckDB oracle uses, so this pin
    // locks all three formulations together (conv parses the 15 hex chars)
    val native = d.select(col("doc_id"),
        ShingleSetExpr.shingleHashSet(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val declarative = d.select(col("doc_id"),
        transform(ShingleSetExpr.shingleSet(col("text"), 3),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(native.length == 50)
    native.zip(declarative).foreach { case (n, dec) => assert(n == dec) }
    assert(native.exists(_.nonEmpty) && native.flatten.forall(_ >= 0L))
  }

  test("sorted hash set + intersect_size match array_intersect under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val d = s2.read.parquet(s"$sfDir/documents.parquet").limit(60)
    // sorted variant emits the SAME SET as the pinned unsorted form
    val sortedSets = d.select(col("doc_id"),
        ShingleSetExpr.shingleHashSetSorted(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val unsortedSets = d.select(col("doc_id"),
        ShingleSetExpr.shingleHashSet(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    sortedSets.zip(unsortedSets).foreach { case (s, u) =>
      assert(s == s.sorted && s.toSet == u.toSet && s.length == u.length)
    }
    // merge-walk intersection == size(array_intersect) on every pair of a
    // 30x30 grid (includes self-pairs = full overlap and empty sets)
    val sets = d.limit(30)
      .select(col("doc_id"), ShingleSetExpr.shingleHashSetSorted(col("text"), 3).as("sh"))
    val pairs = sets.select(col("doc_id").as("ida"), col("sh").as("sha"))
      .crossJoin(sets.select(col("doc_id").as("idb"), col("sh").as("shb")))
      .select(col("ida"), col("idb"),
        IntersectSizeExpr.intersectSize(col("sha"), col("shb")).as("native"),
        size(array_intersect(col("sha"), col("shb"))).as("declarative"))
      .collect()
    assert(pairs.length == 900)
    pairs.foreach(r => assert(r.getInt(2) == r.getInt(3),
      s"pair (${r.getLong(0)}, ${r.getLong(1)})"))
    assert(pairs.exists(r => r.getInt(2) > 0), "grid must exercise non-empty overlap")
  }

  test("null array elements propagate to null results (native == declarative)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // getFloat/getDouble on a null slot silently reads 0; the declarative
    // twins null the whole result — the natives must match (ADVICE pin)
    val df = Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f, 3.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("id", "a", "b")
    val cosRows = df.select(col("id"),
        graft.plans.CosineExpr.cosine(col("a"), col("b")).as("n"),
        graft.functions.EmbeddingFunctions.cosineDeclarative(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    assert(cosRows(0).isNullAt(1) && cosRows(0).isNullAt(2),
      "null element must null the cosine on both paths")
    assert(!cosRows(1).isNullAt(1) &&
      java.lang.Double.doubleToLongBits(cosRows(1).getDouble(1)) ==
        java.lang.Double.doubleToLongBits(cosRows(1).getDouble(2)))

    val cents = Seq((0L, Array[java.lang.Double](0.0, 0.0))).toDF("c_id", "cv")
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    val am = Seq((1L, Array[java.lang.Double](1.0, null)), (2L, Array[java.lang.Double](1.0, 2.0)))
      .toDF("id", "v").crossJoin(broadcast(cents))
      .select(col("id"), ArgminL2Expr.argminL2(col("v"), col("cents")).as("best"))
      .orderBy("id").collect()
    assert(am(0).isNullAt(1), "null vector element must null the argmin")
    assert(!am(1).isNullAt(1) && am(1).getStruct(1).getLong(1) == 0L)
  }

  test("native tokenization keeps trailing empty tokens like Spark split and DuckDB") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    import spark.implicits._
    // trailing/multiple spaces: Java's split(' ') would drop the trailing
    // empty token and silently diverge from split(text, " ")/string_split
    val df = Seq((1L, "alpha beta gamma "), (2L, "x  y z"), (3L, "a b c")).toDF("id", "text")
    val native = df.select(col("id"),
        concat_ws("|", ShingleSetExpr.shingleSet(col("text"), 3)).as("sh"),
        concat_ws("|", MinhashSigExpr.minhashSig8Native(col("text"), 3)).as("mh"))
      .orderBy("id").collect()
    val declarative = df.select(col("id"),
        concat_ws("|", array_distinct(shingles(words(col("text")), 3))).as("sh"),
        concat_ws("|", minhashSig8(shingles(words(col("text")), 3))).as("mh"))
      .orderBy("id").collect()
    native.zip(declarative).foreach { case (n, d) =>
      assert(n.getString(1) == d.getString(1), s"shingles diverge for id ${n.getLong(0)}")
      assert(n.getString(2) == d.getString(2), s"minhash diverges for id ${n.getLong(0)}")
    }
    // the trailing-space doc really produces the extra ["gamma",""]-bearing
    // shingle (i.e. the empty token was kept)
    assert(native(0).getString(1).split("\\|").length == 2)
  }

  test("postings pack/unpack round-trips under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import s2.implicits._
    // ascending doc_ids with the codec's edge shapes: a negative first id
    // (zigzag), dense unit deltas, a multi-byte-varint gap, tf/dl beyond
    // one varint byte, and the empty block
    val blocks: Seq[Seq[(Long, Long, Long)]] = Seq(
      Seq((-5L, 1L, 3L), (-4L, 2L, 7L), (1L, 300L, 12345L),
        (1L + (1L << 40), 1L, 1L)),
      Seq((0L, 1L, 1L)),
      Seq.empty)
    val df = blocks.zipWithIndex
      .flatMap { case (b, i) => b.map { case (d, t, l) => (i, d, t, l) } }
      .toDF("blk", "doc_id", "tf", "dl")
    val packed = df.groupBy(col("blk"))
      .agg(PostingsCodec.pack(sort_array(collect_list(
        struct(col("doc_id"), col("tf"), col("dl"))))).as("plist"))
    val back = packed
      .select(col("blk"), explode(PostingsCodec.unpack(col("plist"))).as("e"))
      .select(col("blk"), col("e.doc_id"), col("e.tf"), col("e.dl"))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(back.getOrElse(0, Nil) == blocks(0).sorted)
    assert(back.getOrElse(1, Nil) == blocks(1))
    assert(!back.contains(2) || back(2).isEmpty) // empty block explodes to no rows
    // dense ids really do cost ~1 byte/entry: 1000 consecutive ids with
    // tf=dl=1 pack to ~3 bytes/entry vs 24 raw
    val dense = (0 until 1000).map(i => (i.toLong, 1L, 1L))
    val bytes = dense.toDF("doc_id", "tf", "dl")
      .agg(PostingsCodec.pack(sort_array(collect_list(
        struct(col("doc_id"), col("tf"), col("dl"))))).as("p"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(bytes.length <= 4 * 1000, s"dense block packed to ${bytes.length} bytes")
  }

  test("bpe_encode applies merges in rank order under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import s2.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "</w>"), ("e", "r"))
    val got = Seq("low lower lowest", "", "aaa low")
      .toDF("text")
      .select(BpeEncodeExpr.bpeEncode(col("text"), merges).as("bpe"))
      .collect().map(_.getString(0))
    // "low" fully merges; "lower" stops at low+er; greedy scan on "aaa"
    assert(got(0) == "low</w> low er </w> low e s t </w>")
    assert(got(1) == "")
    assert(got(2) == "a a a </w> low</w>")
    // native == sequential reference on every fixture doc
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val nat = docs.select(col("doc_id"),
        BpeEncodeExpr.bpeEncode(col("text"), merges).as("bpe"))
      .orderBy("doc_id").collect().map(_.getString(1))
    val ref = docs.orderBy("doc_id").collect()
      .map(r => graft.operators.Bpe.referenceEncode(r.getString(1), merges))
    assert(nat.toSeq == ref.toSeq)
  }

  test("arr_lcp matches the declarative zip_with/array_position chain under forced codegen") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import s2.implicits._
    val rows = Seq(
      (Array("a", "b", "c"), Array("a", "b", "c")),      // equal -> 3
      (Array("a", "b", "c"), Array("a", "b", "c", "d")), // prefix overhang -> 3
      (Array("a", "b", "c"), Array("a", "x", "c")),      // mismatch at 1
      (Array("a"), Array("z")),                          // mismatch at 0
      (Array.empty[String], Array("a")),                 // empty -> 0
      (Array.empty[String], Array.empty[String]))        // both empty -> 0
      .toDF("a", "b")
    val nat = rows.select(ArrLcpExpr.arrLcp(col("a"), col("b")).as("l"))
      .collect().map(_.getLong(0)).toSeq
    val dec = rows.select(
        coalesce(
          nullif(array_position(zip_with(col("a"), col("b"), (x, y) => x <=> y),
            lit(false)), lit(0L)) - 1L,
          least(size(col("a")), size(col("b"))).cast("long")).as("l"))
      .collect().map(_.getLong(0)).toSeq
    assert(nat == dec, s"native $nat vs declarative $dec")
    assert(nat == Seq(3L, 3L, 1L, 0L, 0L, 0L))
    // real-corpus pin: the suffix operator's window inputs
    val docs = s2.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val pairs = docs.as("x").join(docs.as("y"),
        col("x.doc_id") === col("y.doc_id") + 1)
      .select(col("x.w").as("a"), col("y.w").as("b"))
    val natR = pairs.select(ArrLcpExpr.arrLcp(col("a"), col("b"))).collect().map(_.getLong(0))
    val decR = pairs.select(
      coalesce(
        nullif(array_position(zip_with(col("a"), col("b"), (x, y) => x <=> y),
          lit(false)), lit(0L)) - 1L,
        least(size(col("a")), size(col("b"))).cast("long"))).collect().map(_.getLong(0))
    assert(natR.sameElements(decR))
  }

  test("neg_sq_dist matches the declarative scaled zip_with chain under forced codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.EmbeddingFunctions.scaled
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val e = s2.read.parquet(s"$sfDir/embeddings.parquet").limit(40)
    val pairs = e.crossJoin(broadcast(
      e.limit(3).select(col("vec_id").as("qid"), col("embedding").as("qe"))))
    val nat = pairs
      .select(col("vec_id"), col("qid"),
        NegSqDistExpr.negSqDist(col("embedding"), col("qe")).as("nd"))
      .orderBy("vec_id", "qid").collect().map(_.getLong(2))
    val dec = pairs
      .select(col("vec_id"), col("qid"),
        (-aggregate(zip_with(scaled(col("embedding")), scaled(col("qe")),
          (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x))
          .cast("long").as("nd"))
      .orderBy("vec_id", "qid").collect().map(_.getLong(2))
    assert(nat.sameElements(dec))
    assert(nat.exists(_ < 0L) && nat.contains(0L)) // self-pairs are exact zero

    // mismatched lengths and null elements -> null (zip_with semantics)
    import s2.implicits._
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b")
      .select(NegSqDistExpr.negSqDist(col("a"), col("b")).as("nd")).collect()
    assert(edge(0).isNullAt(0) && !edge(1).isNullAt(0))
  }

  test("resource descriptor matches the reference layout") {
    val dir = java.nio.file.Files.createTempDirectory("desc")
    graft.vpts.Vpts.writeResourceDescriptor(dir.resolve("vpts.csv").toString)
    val json = java.nio.file.Files.readString(dir.resolve("vpts.resource.json"))
    assert(json.contains("\"name\": \"vpts\""))
    assert(json.contains("\"path\": \"vpts.csv\""))
    assert(json.contains("vpts-csv/v1.0/vpts-csv-table-schema.json"))
  }
}
