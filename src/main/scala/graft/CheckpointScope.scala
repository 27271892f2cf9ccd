package graft

import java.lang.ref.WeakReference
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** The one lifecycle of `localCheckpoint` frames: every checkpoint is
  * created by [[local]], freed early by [[release]] once superseded, and
  * otherwise freed by the [[drain]] of the thread that created it
  * (optimization guide §5: unpersist when done).
  *
  * Operators checkpoint bounded intermediates (candidate pair sets, probe
  * frontiers, k-means working sets) that the RETURNED lazy plan still
  * reads, so the operator can never free them itself — only the caller
  * knows when the consuming action has finished. Left to the
  * ContextCleaner, a long-lived session accumulated hundreds of dead block
  * sets and the storage-pool pressure inflated later queries 2-4.5x at
  * identical plans (measured r13).
  *
  * Protocol: the harness (Bench / Verify / a serving loop / a streaming
  * `foreachBatch` body) calls [[drain]] on the thread that built the plan,
  * once the action consuming it completes. Each thread drains only what it
  * registered, so concurrent queries on one session never free each
  * other's blocks. Frames built under [[pinned]] (process-lifetime memos
  * shared across invocations, e.g. the funnel prep memo) are never
  * registered and survive drains.
  *
  * Registrations hold the checkpointed RDD WEAKLY: a thread that never
  * drains (tests, stream threads between drains, ad-hoc consumers) keeps
  * the ContextCleaner path — frame GC'd, blocks freed — instead of pinning
  * the blocks for the thread's lifetime.
  */
object CheckpointScope {
  private val live =
    ThreadLocal.withInitial(() => new java.util.ArrayDeque[WeakReference[RDD[_]]]())
  private val pinDepth = new ThreadLocal[Int] { override def initialValue: Int = 0 }

  /** `ds.localCheckpoint(eager)`, registered with this thread's scope
    * unless built inside [[pinned]]. `eager = false` truncates lineage at
    * the first action, so building a plan runs no job.
    */
  def local[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val ckpt = ds.localCheckpoint(eager)
    if (pinDepth.get == 0) rdd(ckpt).foreach(r => live.get.add(new WeakReference(r)))
    ckpt
  }

  /** Build a process-lifetime frame: checkpoints created inside `body` (on
    * this thread) are NOT registered — a later drain must never free
    * blocks a memoized plan still reads.
    */
  def pinned[A](body: => A): A = {
    pinDepth.set(pinDepth.get + 1)
    try body finally pinDepth.set(pinDepth.get - 1)
  }

  /** Free a checkpointed frame's blocks now, once it is dead (superseded
    * by a later checkpoint, or collected to the driver). Never call this
    * on a frame a returned LAZY plan still reads — a lost checkpoint block
    * fails the query. A non-checkpoint frame is a no-op.
    */
  def release(ds: Dataset[_]): Unit = rdd(ds).foreach(GraftSqlBridge.unpersistQuietly)

  /** Free the checkpoint blocks of every frame this thread registered
    * since its last drain. Call ONLY between queries: after the action
    * consuming the current query's result, before the next query's plan
    * is built. A frame already GC'd is skipped (the ContextCleaner owns
    * it).
    */
  def drain(): Unit = {
    val q = live.get
    var ref = q.poll()
    while (ref != null) {
      val r = ref.get()
      if (r != null) GraftSqlBridge.unpersistQuietly(r)
      ref = q.poll()
    }
  }

  private def rdd(ds: Dataset[_]): Option[RDD[_]] = ds.queryExecution.logical match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }
}
