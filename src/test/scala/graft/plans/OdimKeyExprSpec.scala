package graft.plans

import graft.functions.OdimPaths
import graft.vpts.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** [[OdimKeyExpr]] against `java.util.regex` `find()` on
  * `OdimPaths.FileNameRegex` (what `regexp_extract` runs) and against
  * `split(key, "/")`, on keys built from ODIM-name fragments and noise.
  */
class OdimKeyExprSpec extends AnyFunSuite {

  private val pattern = java.util.regex.Pattern.compile(OdimPaths.FileNameRegex)

  /** The name parts `regexp_extract` gives, radar lower-cased. */
  private def regexParts(key: String): Seq[String] = {
    val m = pattern.matcher(key)
    if (m.find()) (1 to 7).map(i => if (i == 1) m.group(i).toLowerCase else m.group(i))
    else Seq.fill(7)("")
  }

  private def parsed(key: String): (String, String, Seq[String]) = {
    val row = OdimKeyExpr.parse(UTF8String.fromString(key))
    def s(i: Int) = if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    (s(0), s(1), (2 to 8).map(s))
  }

  private def splitParts(key: String): (String, String) = {
    val parts = key.split("/", -1)
    (parts(0), if (parts.length > 1) parts(1) else null)
  }

  private val lowerChar = Gen.alphaLowerChar
  private val mixed = Gen.oneOf(Gen.alphaLowerChar, Gen.alphaUpperChar)
  private def chars(g: Gen[Char], lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).flatMap(n => Gen.listOfN(n, g).map(_.mkString))

  /** ODIM file names and near-misses: radar of 4-6 mixed-case letters,
    * lower- or mixed-case type, 7-9 date digits, an optional `T`, 3-5 time
    * digits, and a tail with or without `.h5`.
    */
  private val name: Gen[String] = for {
    radar <- Gen.frequency(8 -> chars(mixed, 5, 5), 1 -> chars(mixed, 4, 4), 1 -> chars(mixed, 6, 6))
    tpe <- Gen.frequency(6 -> Gen.const("vp"), 2 -> chars(lowerChar, 0, 4), 1 -> chars(mixed, 1, 3))
    date <- Gen.frequency(8 -> chars(Gen.numChar, 8, 8), 1 -> chars(Gen.numChar, 7, 7), 1 -> chars(Gen.numChar, 9, 9))
    t <- Gen.frequency(3 -> Gen.const("T"), 1 -> Gen.const(""), 1 -> Gen.const("TT"))
    time <- Gen.frequency(6 -> chars(Gen.numChar, 4, 4), 1 -> chars(Gen.numChar, 3, 3), 2 -> chars(Gen.numChar, 5, 8))
    tail <- Gen.oneOf("00Z_0x9.h5", "Z_0xb.h5", ".h5", "", "_NL50_v0-3-20.h5", ".h5.tmp", "Z.H5", ".h")
  } yield s"${radar}_${tpe}_$date$t$time$tail"

  private val noise: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("/", ".", "_", "T", ".h5", "h5", "Z", "0x9", " ", "-"),
    2 -> Gen.oneOf("\n", "\r", "\r\n", "\u2028", "\u2029", "\u0085", "\u0000"),
    1 -> Gen.oneOf("\u00e9", "\u00c2\u0085", "\uD83D\uDE00", "\u2027", "\uFF10"),
    3 -> chars(Gen.numChar, 1, 10),
    3 -> chars(mixed, 1, 8))

  private val key: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.frequency(3 -> name, 4 -> noise)))
    .map(_.mkString)

  test("differential: name parts equal regexp_extract's and source/file_type equal split's") {
    val prop = Prop.forAllNoShrink(key) { k =>
      val (source, fileType, parts) = parsed(k)
      val want = regexParts(k)
      val label = k.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)
      Prop(parts == want && (source, fileType) == splitParts(k)) :|
        s"$label: got $source, $fileType, $parts; want ${splitParts(k)}, $want"
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(150000).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("the generated keys reach every branch of the name match") {
    val namePattern = java.util.regex.Pattern.compile("[a-zA-Z]{5}_[a-z]*_\\d{8}T?\\d{4}")
    def names(k: String) = { val m = namePattern.matcher(k); var n = 0; while (m.find()) n += 1; n }
    val keys = Iterator.continually(key.sample).flatten.take(20000).toSeq
    val found = keys.map(regexParts).filter(_.head.nonEmpty)
    assert(found.size > 2000)
    assert(found.exists(_(1).isEmpty)) // empty type
    assert(keys.exists(k => names(k) >= 2 && pattern.matcher(k).find())) // two candidate names
    // the match is on a line after the first
    assert(keys.exists { k => val m = pattern.matcher(k); m.find() && m.start() > 0 })
    // a name with no `.h5` after it on its line
    assert(keys.exists(k => names(k) >= 1 && !pattern.matcher(k).find()))
  }

  test("reference cases: two names, `.h5` mid-key, line terminators, no `/`") {
    def parts(k: String) = parsed(k)._3.take(5)
    assert(parts("a/bejab_vp_20221111T2330Z.h5/nlhrw_vp_20230101T0000Z.h5") ==
      Seq("nlhrw", "vp", "2023", "01", "01"))
    assert(parts("bejab_vp_20221111T2330Z.h5/nlhrw_vp_20230101T0000Z.h5.tmp") ==
      Seq("nlhrw", "vp", "2023", "01", "01"))
    assert(parts("bejab_vp_20221111T2330Z.h5\nnlhrw_vp_20230101T0000Z.h5") ==
      Seq("bejab", "vp", "2022", "11", "11"))
    assert(parts("bejab_vp_20221111T2330Z\nnlhrw_vp_20230101T0000Z.h5") ==
      Seq("nlhrw", "vp", "2023", "01", "01"))
    assert(parts("bejab_vp_20221111T2330Z\u2028.h5") == Seq.fill(5)(""))
    assert(parts("NLDBL_vp_200802150000.h5") == Seq("nldbl", "vp", "2008", "02", "15"))
    assert(parsed("bejab_vp_20221111T233000Z_0x9.h5")._2 == null)
    assert(parsed("baltrad/hdf5")._1 == "baltrad" && parsed("baltrad/hdf5")._2 == "hdf5")
    assert(parsed("")._1 == "" && parsed("")._2 == null)
  }

  test("the Catalyst expression equals regexp_extract with and without codegen") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val keys = Iterator.continually(key.sample).flatten.take(3000).toSeq :+ null
    // the shuffle keeps the projection out of the driver-side LocalRelation fold
    val df = keys.zipWithIndex.toDF("k", "i").repartition(2)
    val re = OdimPaths.FileNameRegex
    val got = Seq(OdimPaths.radarCode(col("k")), OdimPaths.dataType(col("k")),
      OdimPaths.year(col("k")), OdimPaths.month(col("k")), OdimPaths.day(col("k")),
      OdimPaths.hour(col("k")), OdimPaths.minute(col("k")),
      OdimKeyExpr.odimKey(col("k")).getField("source"),
      OdimKeyExpr.odimKey(col("k")).getField("file_type"))
    val want = lower(regexp_extract(col("k"), re, 1)) +:
      (2 to 7).map(i => regexp_extract(col("k"), re, i)) ++:
      Seq(element_at(split(col("k"), "/"), 1), try_element_at(split(col("k"), "/"), lit(2)))
    def rows(cols: Seq[org.apache.spark.sql.Column]) =
      df.select(col("i") +: cols: _*).collect().toSeq.sortBy(_.getInt(0))
    val expected = rows(want)
    for ((mode, wholeStage) <- Seq(("CODEGEN_ONLY", "true"), ("NO_CODEGEN", "false"))) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try assert(rows(got) == expected, mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }
}
