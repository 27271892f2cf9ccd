package graft.perfbench

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed span around a call into a layer. Spans of one traced
  * operation share `op`; `parent` is the enclosing span (0 = none).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once, when the benchmark ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0

  /** Starts a new operation: later spans carry its identifier, returned. */
  def newOp(): Int = { op += 1; op }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def spansWhere(p: String => Boolean): Seq[Span] = spans.filter(s => p(s.name)).toSeq

  /** JSON lines, one span each, with self time (duration minus the time its
    * direct children cover).
    */
  def write(path: java.nio.file.Path): Unit = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    val lines = spans.sortBy(_.startNs).map { s =>
      val self = (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)
      f"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"dur_s":${s.seconds}%.6f,"self_s":${self / 1e9}%.6f}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Engine counters of one traced operation. */
final case class EngineStats(jobs: Long, stages: Long, tasks: Long,
    executorRunS: Double, executorCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, inputMb: Double,
    taskSkew: Double, planS: Double)

/** `SparkListener` + `QueryExecutionListener` collector for the `spark.*`
  * metrics and the Catalyst planning time (`QueryExecution.tracker`
  * phases). Registered only in traced runs; counts only between
  * [[begin]] and [[end]], each of which first drains the listener bus so
  * events of untraced work are never attributed to a traced one.
  */
final class SparkCollector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var on = false
  private var jobs, stages, tasks, runMs, cpuNs, gcMs, shW, shR, spill, input = 0L
  private var planMs = 0L
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def drain(): Unit = PerfBenchBus.drain(spark.sparkContext)

  def begin(): Unit = {
    drain()
    synchronized {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
      shW = 0; shR = 0; spill = 0; input = 0; planMs = 0; taskMs.clear()
    }
    on = true
  }

  /** Catalyst planning seconds counted since [[begin]], so far. */
  def planS(): Double = {
    drain()
    synchronized(planMs / 1e3)
  }

  def end(): EngineStats = {
    drain()
    on = false
    synchronized {
      // the stage holding the most task time; max/median of its tasks
      val skew = taskMs.values.maxByOption(_.sum).map { ts =>
        val s = ts.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }.getOrElse(1.0)
      EngineStats(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
        shW / 1e6, shR / 1e6, spill / 1e6, input / 1e6, skew, planMs / 1e3)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    tasks += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  private def phases(qe: QueryExecution): Unit = if (on) {
    val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    synchronized { planMs += ms }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
