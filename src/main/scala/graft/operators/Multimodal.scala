package graft.operators

import graft.{CheckpointScope, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads are opaque binary columns with
  * typed metadata. Real decode (image/audio libs) is stubbed — see
  * graft.multimodal.MediaPipeline for the mapPartitions-based decode path with
  * a deterministic fake decoder — but the Spark-side plumbing (binary casts,
  * digests, metadata extraction, batch shape) is real and oracle-checked here
  * by treating document text bytes as the payload.
  */
object Multimodal {

  /** REAL PNG header parse as a pure column expression: width/height are the
    * big-endian u32s at byte offsets 17/21 of the IHDR chunk, read only when
    * the payload carries the PNG magic — null otherwise. Works on any binary
    * column (the whole-payload hex + substring trick sidesteps binary
    * substring portability); MultimodalSpec proves it against ImageIO-written
    * PNGs, and MediaPipeline.decodeMeta uses javax.imageio for the general
    * multi-format path.
    */
  def pngDim(payload: org.apache.spark.sql.Column, byteOffset: Int): org.apache.spark.sql.Column =
    when(substring(hex(payload), 1, 8) === "89504E47",
      conv(substring(hex(payload), 2 * (byteOffset - 1) + 1, 8), 16, 10).cast("long"))

  private def pngDimSql(payloadSql: String, byteOffset: Int): String =
    s"""CASE WHEN substring(hex($payloadSql), 1, 8) = '89504E47'
       | THEN CAST('0x' || substring(hex($payloadSql), ${2 * (byteOffset - 1) + 1}, 8) AS BIGINT)
       | END""".stripMargin.replace("\n", "")

  /** Binary metadata extraction: byte length, content digest, the real PNG
    * header-parse columns (null for non-PNG payloads, like these text
    * bytes), and stub "decoded" dimensions derived deterministically from
    * the first bytes (the fallback a codec-less modality gets).
    */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).orderBy(col("doc_id"))
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        pngDim(col("payload"), 17).as("png_width"),
        pngDim(col("payload"), 21).as("png_height"),
        (ascii(substring(col("text"), 1, 1)) * 4).as("fake_width"),
        (ascii(substring(col("text"), 2, 1)) * 3).as("fake_height"),
        substring(col("text"), 1, 16).as("header_prefix"))

  val qMultimodalMetaSql: String =
    s"""SELECT doc_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS digest,
      |  ${pngDimSql("encode(text)", 17)} AS png_width,
      |  ${pngDimSql("encode(text)", 21)} AS png_height,
      |  ascii(substring(text, 1, 1)) * 4 AS fake_width,
      |  ascii(substring(text, 2, 1)) * 3 AS fake_height,
      |  substring(text, 1, 16) AS header_prefix
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Frame-sampling shape: split the payload into fixed 64-byte "frames"
    * (the batch shape a video pipeline hands to a decode UDF), keep every
    * 4th frame, and fingerprint each kept frame.
    */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val nFrames = ceil(octet_length(col("text").cast("binary")) / 64.0).cast("int")
    Tables.documents(s, dir).orderBy(col("doc_id"))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), nFrames - 1),
          i => substring(col("text"), i * 64 + 1, lit(64)))).as(Seq("frame_no", "frame")))
      .filter(col("frame_no") % 4 === 0)
      .select(col("doc_id"), col("frame_no"),
        md5(col("frame").cast("binary")).as("frame_digest"))
  }

  val qMultimodalFramesSql: String =
    """SELECT doc_id, frame_no, md5(frame) AS frame_digest
      |FROM (
      |  SELECT doc_id,
      |    unnest(range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS INTEGER))) AS frame_no,
      |    unnest(list_transform(range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS INTEGER)),
      |      i -> substring(text, CAST(i AS INTEGER) * 64 + 1, 64))) AS frame
      |  FROM documents)
      |WHERE frame_no % 4 = 0
      |ORDER BY doc_id, frame_no""".stripMargin

  /** End-to-end multimodal near-dup: REAL image pipeline — render a PNG per
    * row on the executor ([[graft.multimodal.MediaPipeline.PngFixture]],
    * class = doc_id % 1024), ImageIO-decode it, take the 64-bit pixel dHash,
    * lift to the ±1 feature vector, and feed the ordinary embedding near-dup
    * path (random-hyperplane LSH bands + capped buckets + exact cosine) —
    * the same `Dedup.embeddingNearDupPairs` every embedding column uses.
    *
    * The oracle mirrors it in closed-form integer space, which works because
    * the fixture pins the decoded dHash to a value DuckDB can compute
    * (md5-derived; PngFixtureSpec asserts decode(payload(cls)) ==
    * targetBits(cls) for all 1024 classes):
    *  - LSH sig bit j over a ±1 vector collapses to a hamming test:
    *    proj_j = 2^20·(64 − 2·popcount(dh XOR mask_j)), so bit j is set iff
    *    popcount(dh XOR mask_j) < 32 (mask_j = the +1 positions of
    *    LshSigExpr's md5-derived plane j);
    *  - exact scaled-int cosine of two ±1 vectors is the dyadic rational
    *    (64 − 2·hamming)/64 — representable exactly in double on both
    *    engines (dot = (64−2h)·2^40, norms = 2^23 exactly).
    */
  def qMultimodalNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.MediaPipeline
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        // payloads is a per-JVM lazy cache: 1024 encodes once per executor
        it.map(id => (id, MediaPipeline.PngFixture.payloads((id % 1024).toInt)))
      }.toDF("media_id", "payload")
    // decode ONCE: the near-dup operator references the feature frame 3×
    // (band generation + both exact-cosine join sides); without this the
    // plan re-runs the decode MapPartitions per reference — cheap for a
    // parquet re-scan, not for image decode at scale
    val feats = CheckpointScope.local(
      MediaPipeline.decodeMeta(media) // real ImageIO decode + dHash
        .select(col("media_id"), col("features")), eager = false)
    Dedup.embeddingNearDupPairs(feats, "media_id", "features")
      .select(col("id_a").as("media_a"), col("id_b").as("media_b"), col("cos"))
      .orderBy(col("media_a"), col("media_b"))
  }

  val qMultimodalNearDupSql: String = {
    import graft.multimodal.MediaPipeline.PngFixture
    // the fixture dHash in UBIGINT space (logical shifts, no sign traps):
    // md5('media|'||base) leading 8 bytes big-endian = leading 16 hex chars;
    // odd classes flip bits 0,1
    val dhU =
      "xor(('0x' || substring(md5('media|' || CAST((doc_id % 1024) // 2 AS VARCHAR)), 1, 16))::UBIGINT, " +
        "CASE WHEN doc_id % 2 = 1 THEN 3::UBIGINT ELSE 0::UBIGINT END)"
    // plane masks: bit i of mask_j = 1 iff LshSigExpr sign(j, i) = +1
    val signM = graft.plans.LshSigExpr.signMatrix(32, 64)
    val masks = signM.map { row =>
      var m = 0L
      row.zipWithIndex.foreach { case (v, i) => if (v > 0) m |= 1L << i }
      java.lang.Long.toUnsignedString(m)
    }
    val sigSql = masks.zipWithIndex.map { case (m, j) =>
      s"(CASE WHEN bit_count(xor(dh, $m::UBIGINT)) < 32 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val bandRows = (0 until 4).map { b =>
      s"SELECT media_id, $b AS band, (sig >> ${8 * b}) & 255 AS key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH meta AS (SELECT doc_id AS media_id, $dhU AS dh FROM documents),
       |sigs AS (SELECT media_id, $sigSql AS sig FROM meta),
       |bands AS ($bandRows),
       |${Dedup.candCteSql("bands", "media_id", "media_a", "media_b")}
       |SELECT media_a, media_b, cos FROM (
       |  SELECT media_a, media_b,
       |    (64 - 2 * bit_count(xor(ma.dh, mb.dh))) / 64.0 AS cos
       |  FROM cand
       |  JOIN meta ma ON media_a = ma.media_id
       |  JOIN meta mb ON media_b = mb.media_id)
       |WHERE cos > 0.3
       |ORDER BY media_a, media_b""".stripMargin
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("q_multimodal_meta", qMultimodalMeta, Some(qMultimodalMetaSql)),
    QueryDef("q_multimodal_frames", qMultimodalFrames, Some(qMultimodalFramesSql)),
    QueryDef("q_multimodal_neardup", qMultimodalNearDup, Some(qMultimodalNearDupSql)),
  )
}
