package graft

import org.apache.spark.sql.DataFrame

/** Session-lifetime guard for query-local persisted frames.
  *
  * Some queries persist a bounded intermediate on purpose (q74's signature
  * frame, q71's exploded bigram features) because two differently-keyed
  * consumers would otherwise recompute the whole upstream chain. The persist
  * is scoped to ONE query execution — but `DataFrame.persist` is
  * session-scoped, so a long-lived session running queries in a loop would
  * accumulate dead cache entries. Queries register such frames here; the
  * harness (Bench/Verify) drains the bag after each query's action. A
  * drain with no registered frames is a no-op, so callers need no
  * per-query knowledge.
  */
object CacheBag {
  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val rdds = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** Register a persisted frame for post-action cleanup; returns it. */
  def register(df: DataFrame): DataFrame = { frames.add(df); df }

  /** Register a LOCAL-CHECKPOINTED frame's underlying RDD for
    * post-action cleanup. `DataFrame.unpersist` does not free
    * localCheckpoint blocks (they live on the truncated-lineage RDD, not
    * in the CacheManager), so iterative folds that checkpoint per step —
    * connected components, multi-cycle rule evaluation — would
    * accumulate dead blocks across a query loop: measured as
    * monotonically growing per-rep wall times on q92/q266 (1.2 s →
    * 3.0 s within one bench triple). Freeing is safe ONLY for frames
    * never read again (lineage is gone). Returns the frame. */
  def registerCheckpoint(df: DataFrame): DataFrame = {
    checkpointRdd(df).foreach(rdds.add)
    df
  }

  /** The truncated-lineage RDD behind a localCheckpointed frame, if the
    * plan shape is the expected LogicalRDD (defensive: None otherwise). */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    try df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    } catch { case _: Throwable => None }

  /** Free a SUPERSEDED localCheckpointed frame's blocks immediately
    * (in-loop use, where waiting for drain would still accumulate one
    * generation per iteration). The frame must never be read again. */
  def freeCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    try checkpointRdd(df).foreach(_.unpersist(blocking))
    catch { case _: Throwable => () }

  /** True when no frame or checkpoint is waiting for a drain. */
  def isEmpty: Boolean = frames.isEmpty && rdds.isEmpty

  /** Unpersist every registered frame and empty the bag.
    *
    * `blocking = true` is for timed harnesses (Bench): a non-blocking drain
    * lets one query's async block eviction bleed into the NEXT query's
    * wall-clock, which was measured as ±40% run-to-run variance on
    * identical code. Interactive/serving callers keep the non-blocking
    * default — eviction latency doesn't belong on their critical path. */
  def drain(blocking: Boolean = false): Unit = {
    var df = frames.poll()
    while (df != null) {
      try df.unpersist(blocking)
      catch { case _: Throwable => () }
      df = frames.poll()
    }
    var r = rdds.poll()
    while (r != null) {
      try r.unpersist(blocking)
      catch { case _: Throwable => () }
      r = rdds.poll()
    }
  }
}
