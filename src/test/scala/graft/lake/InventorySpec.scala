package graft.lake

import graft.vpts.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.time.Instant

/** The one-scan [[Inventory]] against the two-scan [[InventoryReference]]
  * on generated inventories.
  */
class InventorySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val now: Instant = Instant.parse("2024-03-15T12:00:00Z")

  private val modifiedFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  /** Headerless `repo,file,size,modified` rows: h5 keys of 3 sources, 3 file
    * types and 6 radars over 12 days (some named with upper case or without
    * `T`, some dated unlike their folder), non-h5 keys (daily and monthly
    * CSVs, `.h5.tmp`, a bare `h5` suffix), h5 keys that do not match the
    * name pattern, and 10% null `modified`, stamped 0-90 days before `now`.
    */
  def inventoryLines(seed: Long, rows: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val sources = Seq("baltrad", "uva", "ecog-04003")
    val types = Seq("hdf5", "hdf5", "hdf5", "hdf5-old", "raw")
    val radars = Seq("bejab", "bewid", "NLDBL", "fiuta", "plpoz", "nosta")
    (1 to rows).map { _ =>
      val src = pick(sources)
      val tpe = pick(types)
      val radar = pick(radars)
      val r = radar.toLowerCase
      val d = f"${1 + rnd.nextInt(12)}%02d"
      val hhmm = f"${rnd.nextInt(24)}%02d${rnd.nextInt(12) * 5}%02d"
      val file = rnd.nextInt(20) match {
        case 0 => s"$src/daily/$r/2024/${r}_vpts_202403$d.csv"
        case 1 => s"$src/monthly/$r/2024/${r}_vpts_202403.csv.gz"
        case 2 => s"$src/$tpe/$r/2024/03/$d/${radar}_vp_202403${d}T${hhmm}00Z_0x9.h5.tmp"
        case 3 => s"$src/$tpe/h5"
        case 4 => s"$src/$tpe/readme.h5"
        case 5 => s"$src/$tpe/$r/2024/03/$d/${radar}_vp_202403$d.h5"
        case 6 => s"$src/$tpe/$r/2024/03/$d/${radar}_vp_202403$d${hhmm}00.h5"
        case 7 => s"$src/$tpe/$r/2024/03/01/${radar}_vp_202403${d}T${hhmm}00Z_0x9.h5"
        case 8 => s"$src/${radar}_vp_202403${d}T${hhmm}Z.h5"
        case _ => s"$src/$tpe/$r/2024/03/$d/${radar}_vp_202403${d}T${hhmm}00Z_0x${pick(Seq("9", "b"))}.h5"
      }
      val modified =
        if (rnd.nextInt(10) == 0) ""
        else modifiedFormat.format(now.minusSeconds(rnd.nextInt(90 * 86400).toLong))
      s"aloft,$file,${10000 + rnd.nextInt(5000)},$modified"
    }
  }

  def writeInventory(lines: Seq[String]): Path = {
    val p = Files.createTempDirectory("inv").resolve("inventory.csv")
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("differential: coverage and days to rebuild equal the two-scan reference") {
    for (seed <- 1L to 3L) {
      val inv = Inventory.read(spark, writeInventory(inventoryLines(seed, 3000)).toString)
      assert(rows(Inventory.coverage(inv)) == rows(InventoryReference.coverage(inv)), s"seed $seed")
      for (window <- Seq(0, 1, 2, 60)) {
        val got = rows(Inventory.daysToRebuild(inv, window, now))
        val want = rows(InventoryReference.daysToRebuild(inv, window, now))
        assert(got.nonEmpty)
        // rows equal; their (source, radar, yyyy, mm, dd) keys in equal order
        assert(got.sortBy(_.toString) == want.sortBy(_.toString), s"seed $seed, window $window")
        assert(LakeController.dayKeys(Inventory.daysToRebuild(inv, window, now)) ==
          LakeController.dayKeys(InventoryReference.daysToRebuild(inv, window, now)))
      }
    }
  }

  test("a top-level .h5 key gets a null file_type instead of failing the scan") {
    val key = "bejab_vp_20221111T233000Z_0x9.h5"
    val lines = inventoryLines(4, 200) :+ s"aloft,$key,123,2024-03-15T11:00:00.000Z"
    val inv = Inventory.read(spark, writeInventory(lines).toString)
    val e = intercept[Exception](InventoryReference.coverage(inv).collect())
    assert(e.getMessage.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"))
    val coverage = rows(Inventory.coverage(inv)).map(r => (r.getString(0), r.getLong(1)))
    assert(coverage.contains((s"$key/bejab/2022/11/11", 1L)))
    val days = rows(Inventory.daysToRebuild(inv, 2, now))
    assert(days.contains(Row(key, null, "bejab", "2022", "11", "11", 1L)))
    // the cron warns on that day and goes on
    val bucket = Files.createTempDirectory("lake").toString
    assert(LakeController.run(spark, bucket, writeInventory(lines).toString, 2, now)._1 == 0)
  }

  test("a malformed modified stamp fails a windowed run, as the reference's pd.to_datetime does") {
    val lines = inventoryLines(5, 200) :+ "aloft,baltrad/hdf5/bejab/2024/03/15/bejab_vp_20240315T1200Z.h5,1,yesterday"
    val path = writeInventory(lines).toString
    val bucket = Files.createTempDirectory("lake").toString
    val e = intercept[Exception](LakeController.run(spark, bucket, path, 2, now))
    assert(e.getMessage.contains("CANNOT_PARSE_TIMESTAMP"))
    // --modified-days-ago 0 reads no stamp
    assert(Inventory.daysToRebuild(Inventory.read(spark, path), 0, now).count() > 0)
  }

  test("LakeController.run scans the inventory in at most 2 Spark jobs") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val inventory = writeInventory(inventoryLines(6, 3000)).toString
    val bucket = Files.createTempDirectory("lake")
    val coverage = bucket.resolve("coverage.csv")
    // no h5 file is on disk, so every day rebuild fails before it starts a job
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val (okDays, _) = LakeController.run(spark, bucket.toString, inventory, 2, now,
        Some(coverage.toString))
      assert(okDays == 0)
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() <= 2, s"${jobs.get()} jobs")
    val inv = Inventory.read(spark, inventory)
    val want = "directory,file_count\n" + rows(InventoryReference.coverage(inv))
      .map(r => s"${r.getString(0)},${r.getLong(1)}\n").mkString
    assert(Files.readString(coverage) == want)
  }
}
