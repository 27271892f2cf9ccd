package graft.vpts

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The canonical sort of `Vpts.vpts` over a generated lake: the same rows
  * in the same order as a total `orderBy` of the scan, without a
  * range-partitioned exchange (whose sampling job decodes every file a
  * second time).
  */
class VptsSortSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  test("Vpts.vpts equals orderBy over the same scan, with no rangepartitioning exchange") {
    val lake = Files.createTempDirectory("vpts_sort")
    val times = Seq("230000", "000500", "120000", "001000", "000000", "235500")
    // 0x9/0xb pairs: duplicate (radar, datetime, height) rows, ordered by source_file
    val files = VpLakeFixture.writeLake(lake, Seq("nosta", "bewid", "bejab"), "20230311",
      times, Set("000500", "235500"), seed = 11)
    val df = Vpts.vpts(spark, Seq(lake.toString))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
    val got = df.collect().map(_.toSeq).toSeq
    val want = spark.read.format("odim").load(lake.toString)
      .orderBy(col("radar"), col("datetime"), col("height").cast("int"), col("source_file"))
      .collect().map(_.toSeq).toSeq
    assert(got.size == files.size * VpLakeFixture.Levels)
    assert(got == want)
    val dups = got.groupBy(r => (r(0), r(1), r(2))).values.filter(_.size > 1)
    assert(dups.size == 3 * 2 * VpLakeFixture.Levels)
    assert(dups.forall(_.map(_.last.toString.takeRight(6)) == Seq("0x9.h5", "0xb.h5")))
  }
}
