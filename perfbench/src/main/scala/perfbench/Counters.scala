package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine-wide counters read from outside: Spark's listener bus for jobs,
  * tasks and bytes, the streaming listener for micro-batches, and the
  * JVM's own beans for GC and memory. */
final case class SparkSnap(jobs: Long, tasks: Long, inputBytes: Long,
                           shuffleBytes: Long, spillBytes: Long, gcMs: Long) {
  def -(o: SparkSnap): SparkSnap = SparkSnap(jobs - o.jobs, tasks - o.tasks,
    inputBytes - o.inputBytes, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, gcMs - o.gcMs)
}

final class SparkCounters extends SparkListener {
  private val jobs, tasks, input, shuffle, spill, gc = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      input.addAndGet(m.inputMetrics.bytesRead)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
    }
  }
  /** Drains the asynchronous listener bus first, so that every event of
    * work already finished is counted. */
  def snap(spark: SparkSession): SparkSnap = {
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    SparkSnap(jobs.get, tasks.get, input.get, shuffle.get, spill.get, gc.get)
  }
}

final case class StreamSnap(batches: Long, inputRows: Long, stateRows: Long) {
  def -(o: StreamSnap): StreamSnap =
    StreamSnap(batches - o.batches, inputRows - o.inputRows, stateRows - o.stateRows)
}

final class StreamCounters extends StreamingQueryListener {
  private val batches, inputRows, stateRows = new AtomicLong
  private val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    inputRows.addAndGet(p.numInputRows)
    stateRows.addAndGet(p.stateOperators.map(_.numRowsTotal).sum)
    batchMs.add(p.batchDuration.toDouble)
  }
  def snap(spark: SparkSession): StreamSnap = {
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    StreamSnap(batches.get, inputRows.get, stateRows.get)
  }
  def batchDurationsMs: Seq[Double] = batchMs.asScala.map(_.doubleValue).toSeq
  def resetDurations(): Unit = batchMs.clear()
}

object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Sum of the heap pools' peak usage since start, in MB. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after full collections: what the run left behind
    * in caches and other live state, in MB. Collected three times, with a
    * pause for Spark's cleaner to drop what the previous collection freed. */
  def retainedHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("VmHWM not found in /proc/self/status"))
    finally src.close()
  }
}
