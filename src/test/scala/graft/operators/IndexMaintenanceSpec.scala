package graft.operators

import graft.vpts.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Index maintenance (VERDICT r7 #3): appends accumulate one small file-set
  * per batch; compaction must bound the file count WITHOUT changing probe
  * results. Also pins the segment-keyed append idempotence that backs the
  * streaming ingest's exactly-once contract (ADVICE r7): re-running a
  * batch's append replaces its segment instead of duplicating it, and a
  * probe excluding its own segment does not self-collide with a crashed
  * attempt's partial rows.
  */
class IndexMaintenanceSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
  }

  test("compactBandIndex bounds files after N appends and preserves probe results") {
    val docs = graft.Tables.documents(spark, sfDir)
    val existing = docs.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("band-index-compact").toString
    Dedup.writeBandIndex(existing, dir, "doc_id", "text")
    // 4 appended batches, each its own segment
    (0 until 4).foreach { i =>
      val b = incoming.filter(col("doc_id") % 4 === i)
      Dedup.appendBandIndex(b, dir, "doc_id", "text", seg = s"b$i", overwriteSeg = true)
    }
    // half duplicates (must drop), half fresh synthetic docs (must keep)
    import spark.implicits._
    val fresh = (0 until 30).map(i => (4000000L + i,
      s"completely fresh document number $i about topic${i % 7} with unique tail ${i * 31}"))
      .toDF("doc_id", "text")
    val probe = docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      .unionByName(fresh)
    val before = Dedup.incrementalKeptIndexed(spark, dir, probe, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val filesBefore = parquetFiles(dir).size
    val segsBefore = parquetFiles(dir).map(_.getParentFile.getName).distinct.sorted
    assert(segsBefore.size == 5, s"expected 5 segments, saw $segsBefore")

    Dedup.compactBandIndex(spark, dir)

    val files = parquetFiles(dir)
    assert(files.map(_.getParentFile.getName).distinct == Seq("seg=base"),
      "compaction must collapse all segments into one")
    // one file per surviving (band, kp) partition — strictly fewer than the
    // appended sprawl and bounded by the partition count regardless of N
    val partDirs = files.map(_.getParentFile.getPath).distinct.size
    assert(files.size == partDirs, s"expected 1 file per partition, " +
      s"${files.size} files in $partDirs partitions")
    assert(files.size < filesBefore,
      s"compaction did not shrink: $filesBefore -> ${files.size}")
    val after = Dedup.incrementalKeptIndexed(spark, dir, probe, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before, "probe results changed across compaction")
    assert(before.nonEmpty, "fixture probe accepted nothing")
  }

  test("segment-keyed append is idempotent and probes exclude their own segment") {
    val docs = graft.Tables.documents(spark, sfDir)
    val existing = docs.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 5 === 0).limit(20)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("band-index-idem").toString
    Dedup.writeBandIndex(existing, dir, "doc_id", "text")

    val keptClean = Dedup.incrementalKeptIndexed(spark, dir, batch, "doc_id", "text",
        excludeSeg = Some("b7")).localCheckpoint()
    val cleanIds = keptClean.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cleanIds.nonEmpty)

    // crashed attempt: PARTIAL band rows of the batch land in segment b7
    Dedup.appendBandIndex(keptClean.limit(5), dir, "doc_id", "text",
      seg = "b7", overwriteSeg = true)
    // without the exclusion the batch collides with its own partial rows
    val polluted = Dedup.incrementalKeptIndexed(spark, dir, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(polluted != cleanIds, "pollution not observable — test fixture too weak")
    // the replaying probe excludes its own segment: same kept set as clean
    val replayed = Dedup.incrementalKeptIndexed(spark, dir, batch, "doc_id", "text",
        excludeSeg = Some("b7")).localCheckpoint()
    assert(replayed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == cleanIds)

    // replay's append overwrites segment b7 — band-row count equals a
    // single clean append's, not partial + full
    Dedup.appendBandIndex(replayed, dir, "doc_id", "text", seg = "b7", overwriteSeg = true)
    val segRows = spark.read.parquet(dir).filter(col("seg") === "b7").count()
    val cleanDir = java.nio.file.Files.createTempDirectory("band-index-ref").toString
    Dedup.writeBandIndex(keptClean, cleanDir, "doc_id", "text")
    assert(segRows == spark.read.parquet(cleanDir).count(),
      "segment overwrite left duplicate band rows behind")
  }

  test("deleteFromBandIndex equals an index built without the deleted docs") {
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val keepCorpus = docs.filter(col("doc_id") % 3 === 0)
    val delCorpus = docs.filter(col("doc_id") % 3 === 1)
    val probe = docs.select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
    def build(): String = {
      val dir = java.nio.file.Files.createTempDirectory("band-index-del").toString
      Dedup.writeBandIndex(keepCorpus, dir, "doc_id", "text")
      Dedup.appendBandIndex(delCorpus, dir, "doc_id", "text", seg = "b1", overwriteSeg = true)
      dir
    }
    def kept(dir: String): Seq[Long] =
      Dedup.incrementalKeptIndexed(spark, dir, probe, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val dir = build()
    val refDir = java.nio.file.Files.createTempDirectory("band-index-ref2").toString
    Dedup.writeBandIndex(keepCorpus, refDir, "doc_id", "text")
    val full = kept(dir)

    Dedup.deleteFromBandIndex(spark, dir, delCorpus, "doc_id", "text")

    val after = kept(dir)
    assert(after == kept(refDir), "deleted index diverges from rebuilt-without")
    assert(after != full, "deletion not observable — fixture too weak")
    // no deleted id survives in any file of any partition
    val delIds = delCorpus.select(col("doc_id").cast("long").as("__id"))
    assert(spark.read.parquet(dir).join(delIds, "__id").count() == 0)
    // ids-only form (text already purged) reaches the same index state
    val dir2 = build()
    Dedup.deleteIdsFromBandIndex(spark, dir2, delCorpus.select(col("doc_id")))
    val rows = (d: String) => spark.read.parquet(d)
      .select("__id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(rows(dir2) == rows(dir), "ids-only delete diverges from text-pruned delete")
  }

  test("deleting every doc of a partition removes its directory outright") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(40)
    val dir = java.nio.file.Files.createTempDirectory("band-index-del-all").toString
    Dedup.writeBandIndex(docs, dir, "doc_id", "text")
    assert(parquetFiles(dir).nonEmpty)
    Dedup.deleteFromBandIndex(spark, dir, docs, "doc_id", "text")
    assert(parquetFiles(dir).isEmpty,
      "fully-deleted partitions must leave no parquet files behind")
  }

  test("deleteFromDocShardedIndex equals an index built without the deleted docs") {
    // the doc-sharded twin of the term-index contract: append a batch,
    // delete it, probe — indistinguishable from never having indexed it.
    // The delete's shard pruning comes from the ids alone (ds = id % 16).
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val keep = docs.filter(col("doc_id") % 4 =!= 1)
    val del = docs.filter(col("doc_id") % 4 === 1)
    val terms = TextOps.QueryTerms
    def probe(dir: String): Seq[(Long, String)] =
      TextOps.bm25DocSharded(spark, dir, terms, 10)
        .select("doc_id", "bm25").collect()
        .map(r => (r.getLong(0), r.get(1).toString)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("ds-index-del").toString
    TextOps.writeDocShardedIndex(keep, dir)
    TextOps.appendDocShardedIndex(del, dir)
    val refDir = java.nio.file.Files.createTempDirectory("ds-index-delref").toString
    TextOps.writeDocShardedIndex(keep, refDir)
    val full = probe(dir)

    TextOps.deleteFromDocShardedIndex(spark, dir, del)

    assert(probe(dir) == probe(refDir),
      "deleted doc-sharded index diverges from rebuilt-without")
    assert(probe(dir) != full, "deletion not observable — fixture too weak")
    val delIdsDf = del.select(col("doc_id").cast("long").as("doc_id"))
    assert(spark.read.parquet(s"$dir/postings")
      .join(delIdsDf, "doc_id").count() == 0)
  }

  test("deleteFromTermIndex equals an index built without the deleted docs") {
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val keep = docs.filter(col("doc_id") % 4 =!= 1)
    val del = docs.filter(col("doc_id") % 4 === 1)
    val terms = TextOps.QueryTerms
    def probe(dir: String): Seq[(Long, String)] =
      TextOps.bm25Indexed(spark, dir, terms, 10)
        .select("doc_id", "bm25").collect()
        .map(r => (r.getLong(0), r.get(1).toString)).toSeq
    def build(): String = {
      val dir = java.nio.file.Files.createTempDirectory("term-index-del").toString
      TextOps.writeTermIndex(keep, dir)
      TextOps.appendTermIndex(del, dir)
      dir
    }
    val dir = build()
    val refDir = java.nio.file.Files.createTempDirectory("term-index-delref").toString
    TextOps.writeTermIndex(keep, refDir)
    val full = probe(dir)

    TextOps.deleteFromTermIndex(spark, dir, del)

    assert(probe(dir) == probe(refDir),
      "deleted term index diverges from rebuilt-without (postings or stats stale)")
    assert(probe(dir) != full, "deletion not observable — fixture too weak")
    val delIdsDf = del.select(col("doc_id").cast("long").as("doc_id"))
    assert(spark.read.parquet(s"$dir/postings")
      .join(delIdsDf, "doc_id").count() == 0)
    // ids-only form reaches the same probe state (all fixture docs tokenize)
    val dir2 = build()
    TextOps.deleteIdsFromTermIndex(spark, dir2, del.select(col("doc_id")))
    assert(probe(dir2) == probe(refDir),
      "ids-only term delete diverges from rebuilt-without")
  }

  test("compactTermIndex bounds files after N appends and preserves the probe") {
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("term-index-compact").toString
    TextOps.writeTermIndex(docs.filter(col("doc_id") % 5 =!= 0), dir)
    (0 until 4).foreach { i =>
      TextOps.appendTermIndex(
        docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 4 === i), dir)
    }
    val terms = TextOps.QueryTerms
    val before = TextOps.bm25Indexed(spark, dir, terms, 10)
      .select("doc_id", "bm25").collect().map(r => (r.getLong(0), r.get(1).toString)).toSeq
    val filesBefore = parquetFiles(dir).size
    val (postStats, statStats) = TextOps.compactTermIndex(spark, dir)
    assert(postStats.filesAfter < postStats.filesBefore)
    assert(statStats.filesAfter == 1, "stats should coalesce to one file")
    assert(parquetFiles(dir).size < filesBefore)
    val after = TextOps.bm25Indexed(spark, dir, terms, 10)
      .select("doc_id", "bm25").collect().map(r => (r.getLong(0), r.get(1).toString)).toSeq
    assert(after == before, "probe results changed across term-index compaction")
    assert(before.nonEmpty)
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("u", "v", "nd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("appendToAnnGraph: maintained graph equals the from-scratch exact graph edge-for-edge") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val old = e.filter(col("vec_id") < 400)
    val b1 = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val b2 = e.filter(col("vec_id") >= 450)
    val dir = java.nio.file.Files.createTempDirectory("ann-graph-append").toString
    Similarity.writeAnnGraph(old, dir, 8)
    Similarity.appendToAnnGraph(spark, dir, b1, old, 8, seg = "b1", overwriteSeg = true)
    Similarity.appendToAnnGraph(spark, dir, b2, old.unionByName(b1), 8,
      seg = "b2", overwriteSeg = true)
    val rebuilt = edgeSet(Similarity.knnGraphEdges(e, 8))
    val maintained = edgeSet(Similarity.readAnnGraphLayer(spark, dir, 8))
    assert(maintained == rebuilt,
      s"maintained != rebuilt: ${maintained.diff(rebuilt).take(3)} extra, " +
        s"${rebuilt.diff(maintained).take(3)} missing")
    // ... and therefore identical beam-search results, asserted directly
    // through the pruned probe path the artifact exists for
    val direct = Similarity.graphBeamSearch(Similarity.knnGraphEdges(e, 8), e, 3L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val probed = Similarity.graphBeamSearch(spark.emptyDataFrame, e, 3L, 10,
        lookup = Some(Similarity.annGraphLookup(spark, dir, 8)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(probed == direct, "beam search over maintained artifact diverged from rebuilt graph")
    // replaying a batch's append (crash retry) replaces its segment
    Similarity.appendToAnnGraph(spark, dir, b2, old.unionByName(b1), 8,
      seg = "b2", overwriteSeg = true)
    assert(edgeSet(Similarity.readAnnGraphLayer(spark, dir, 8)) == rebuilt,
      "replayed append changed the merged view")
    // compaction collapses segments, drops displaced rows, preserves the view
    val filesBefore = parquetFiles(dir).size
    Similarity.compactAnnGraph(spark, dir, 8)
    assert(parquetFiles(dir).map(_.getParentFile.getName).distinct == Seq("seg=base"),
      "compaction must collapse all segments into one")
    assert(parquetFiles(dir).size < filesBefore)
    assert(edgeSet(Similarity.readAnnGraphLayer(spark, dir, 8)) == rebuilt,
      "merged view changed across compaction")
  }

  test("deleteFromAnnGraph equals a graph built without the deleted nodes") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ann-graph-delete").toString
    Similarity.writeAnnGraph(e, dir, 8)
    val delIds = (0L until 500L by 7L).toSeq
    val survivors = e.filter(!col("vec_id").isin(delIds: _*))
    Similarity.deleteFromAnnGraph(spark, dir, delIds, survivors, 8)
    val rebuilt = edgeSet(Similarity.knnGraphEdges(survivors, 8))
    val maintained = edgeSet(Similarity.readAnnGraphLayer(spark, dir, 8))
    assert(maintained == rebuilt,
      s"post-delete graph != survivor rebuild: ${maintained.diff(rebuilt).take(3)} extra, " +
        s"${rebuilt.diff(maintained).take(3)} missing")
    assert(maintained.nonEmpty)
  }

  test("insertIntoHnswGraph wires a batch into both layers; the probe still serves") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val old = e.filter(col("vec_id") < 480)
    val batch = e.filter(col("vec_id") >= 480)
    val dir = java.nio.file.Files.createTempDirectory("hnsw-insert").toString
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(old, 4, rounds = 3, stride = 4), s"$dir/layer1")
    Similarity.writeAnnGraphLayer(
      Similarity.nnDescent(old, 8, rounds = 3), s"$dir/layer0")
    Similarity.insertIntoHnswGraph(spark, dir, batch, old, seg = "b0")
    // the new nodes are reachable: their own lists landed in layer 0
    val newNodes = Similarity.readAnnGraphLayer(spark, s"$dir/layer0", 8)
      .filter(col("u") >= 480).select("u").distinct().count()
    assert(newNodes == 20, s"expected 20 inserted layer-0 nodes, saw $newNodes")
    val out = Similarity.hnswProbe(spark, dir, e, queryId = 1L, k = 5)
      .collect().map(_.getLong(1)).toSeq
    assert(out.size == 5 && out.distinct.size == 5)
  }

  test("insertIntoHnswAutoGraph: meta stride drives every layer; entry inserts replay-idempotent") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val old = e.filter(col("vec_id") < 480)
    val batch = e.filter(col("vec_id") >= 480) // holds 480 = 0 mod 8 (s=2, s^3=8)
    val dir = java.nio.file.Files.createTempDirectory("hnsw-auto-insert").toString
    val st = Similarity.writeHnswAutoArtifact(old, dir)
    assert(st == 2, s"480-vector corpus should solve stride 2, got $st")
    val entriesBefore = spark.read.parquet(s"$dir/entry").count()

    Similarity.insertIntoHnswAutoGraph(spark, dir, batch, old, seg = "b0")
    // every batch node landed in layer 0; the % s members in layer 1,
    // the % s^2 members in layer 2, the % s^3 members in the entry table
    val l0 = Similarity.readAnnGraphLayer(spark, s"$dir/layer0", 8)
      .filter(col("u") >= 480).select("u").distinct().count()
    assert(l0 == 20, s"expected 20 inserted layer-0 nodes, saw $l0")
    val l2 = Similarity.readAnnGraphLayer(spark, s"$dir/layer2", 2)
      .filter(col("u") >= 480).select("u").distinct().count()
    assert(l2 == 5, s"expected 5 inserted layer-2 nodes (%4), saw $l2")
    val entries = spark.read.parquet(s"$dir/entry")
    assert(entries.count() == entriesBefore + 3, // 480, 488, 496
      s"expected 3 new entry rows over $entriesBefore")
    // a crash-retry replaying the same batch duplicates NOTHING
    Similarity.insertIntoHnswAutoGraph(spark, dir, batch, old, seg = "b0",
      overwriteSeg = true)
    assert(spark.read.parquet(s"$dir/entry").count() == entriesBefore + 3,
      "entry replay duplicated rows")
    val l0b = spark.read.parquet(s"$dir/layer0")
      .filter(col("u") >= 480 && col("seg") === "b0").count()
    Similarity.insertIntoHnswAutoGraph(spark, dir, batch, old, seg = "b0",
      overwriteSeg = true)
    assert(spark.read.parquet(s"$dir/layer0")
      .filter(col("u") >= 480 && col("seg") === "b0").count() == l0b,
      "layer replay duplicated delta rows")
    // the probe serves the maintained artifact, including a new node
    val out = Similarity.hnswProbe(spark, dir, e, queryId = 1L, k = 5)
      .collect().map(_.getLong(1)).toSeq
    assert(out.size == 5 && out.distinct.size == 5)
  }
}
