package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Scale measurement harness (SCALE.md evidence run): runs named
  * SparkEntry queries on a data directory and records, per query, the
  * wall time AND the physical work — shuffle read/write bytes, input
  * bytes, spill — from a stage-completion listener. Comparing two
  * directories (sf0.1 vs the ScaleGen 10× slice) yields the measured
  * scaling ratio per chain: a superlinear shuffle-bytes ratio is a
  * scale-killer the wall clock alone can hide on a 32-core box.
  *
  * Usage: runMain graft.ScaleBench <sfDir> <q1,q2,...>
  * Env:   SPARK_GRAFT_SCALE_REPS (default 2; wall = min of reps — the
  *        quiet-slice rep, matching the BenchAudit discipline)
  *
  * Output: one JSON line per query + a `scale_total` line.
  */
object ScaleBench {

  final class WorkMeter extends SparkListener {
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val inputBytes = new AtomicLong(0L)
    val spillBytes = new AtomicLong(0L)
    val tasks = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
      tasks.addAndGet(sc.stageInfo.numTasks.toLong)
    }
    def reset(): Unit = {
      shuffleRead.set(0); shuffleWrite.set(0); inputBytes.set(0)
      spillBytes.set(0); tasks.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt.max(1)
    val spark = Harness.session()
    val meter = new WorkMeter
    spark.sparkContext.addSparkListener(meter)
    Harness.warmUp(spark, sfDir)

    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    var totalWall = 0.0
    names.foreach { name =>
      // rep 0 warms caches/JIT for the chain; measured = min of reps. A
      // query with a rep that throws prints an error record instead.
      val runs = (1 to reps).map { i =>
        if (i == reps) { // meter only the LAST rep (steady state)
          org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
          meter.reset()
        }
        Harness.run(spark, name, sfDir)
      }
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      runs.collectFirst { case Left(e) => e } match {
        case Some(e) =>
          println(s"""{"query":"$name","error":${Harness.json(e.toString)}}""")
        case None =>
          val timed = runs.collect { case Right(t) => t }
          val wall = timed.map(_.seconds).min
          totalWall += wall
          println(s"""{"query":"$name","wall_s":${r3(wall)},"rows":${timed.last.rows},""" +
            s""""shuffle_read_mb":${r3(meter.shuffleRead.get / 1e6)},""" +
            s""""shuffle_write_mb":${r3(meter.shuffleWrite.get / 1e6)},""" +
            s""""input_mb":${r3(meter.inputBytes.get / 1e6)},""" +
            s""""spill_mb":${r3(meter.spillBytes.get / 1e6)},""" +
            s""""tasks":${meter.tasks.get}}""")
      }
    }
    println(s"""{"scale_total":${r3(totalWall)},"sf":"$sfDir","n":${names.length}}""")
    spark.stop()
  }
}
