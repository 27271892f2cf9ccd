package graft

import graft.vpts.SparkTestSession
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The checkpoint lifecycle on tiny frames: [[CheckpointScope.drain]] frees
  * only what its own thread registered, never a [[CheckpointScope.pinned]]
  * frame, and releases leave the log configuration alone.
  */
class CheckpointScopeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")
  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
  /** Whether the frame's checkpoint blocks are still registered with the
    * context (`unpersistRDD` drops them from this map synchronously).
    */
  private def held(df: DataFrame): Boolean = df.queryExecution.logical match {
    case l: LogicalRDD => spark.sparkContext.getPersistentRDDs.contains(l.rdd.id)
    case _ => fail("not a checkpointed frame")
  }

  /** `body` on a new thread, joined: a drain there sees only that thread's
    * registrations, never those of frames other specs left on this one.
    */
  private def onThread[A](body: => A): A = {
    var out: Option[scala.util.Try[A]] = None
    val t = new Thread(() => out = Some(scala.util.Try(body)))
    t.start()
    t.join()
    out.get.get
  }

  test("a drain on another thread leaves this thread's checkpoints readable") {
    val mine = CheckpointScope.local(frame(10))
    val lazyMine = CheckpointScope.local(frame(7), eager = false)
    val theirs = onThread {
      val f = CheckpointScope.local(frame(5))
      CheckpointScope.drain()
      f
    }
    assert(!held(theirs), "the other thread's drain did not free its own frame")
    assert(held(mine))
    assert(ids(mine) == (0L until 10L))
    assert(ids(lazyMine) == (0L until 7L))
  }

  test("a frame built under pinned survives its thread's drain") {
    val (pinned, scoped) = onThread {
      val p = CheckpointScope.pinned(CheckpointScope.local(frame(4)))
      val s = CheckpointScope.local(frame(3))
      CheckpointScope.drain()
      (p, s)
    }
    assert(!held(scoped), "drain did not free an unpinned frame")
    assert(held(pinned))
    assert(ids(pinned) == (0L until 4L))
  }

  test("release and drain leave the MapPartitionsRDD log level unchanged") {
    val logger = LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
    val before = logger.getLevel
    onThread {
      val f = CheckpointScope.local(frame(3))
      CheckpointScope.release(f)
      assert(!held(f))
      CheckpointScope.local(frame(2))
      CheckpointScope.drain()
    }
    assert(logger.getLevel == before)
    // no override at all, whatever ran earlier: the class logs at its package's level
    assert(logger.getLevel == LogManager.getLogger("org.apache.spark.rdd").getLevel)
  }

  test("src/main checkpoints only through CheckpointScope and sets no log level") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val offending = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if (line.contains(".localCheckpoint(") && f.getFileName.toString != "CheckpointScope.scala") ||
        line.contains("Configurator.setLevel")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
