package perfbench

import graft.Tables
import org.apache.spark.sql.SparkSession

/** The per-layer metrics a traced run prints, by module. Every traced run
  * prints all of them; a layer that a workload's requests never reach
  * reads 0 there (for instance `catalog.*` on `promql_read`). */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "server.overhead_ms" -> "ms", "server.response_bytes" -> "bytes",
    "promql.parse_ms" -> "ms", "promql.compile_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.execute_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.input_bytes_per_op" -> "bytes", "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.gc_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "sources.decode_ms" -> "ms",
    "ingest.write_p50_ms" -> "ms", "ingest.write_p90_ms" -> "ms",
    "ingest.samples_per_s" -> "1/s", "ingest.read_ms_per_prior_write" -> "ms",
    "catalog.anomaly_batch_s" -> "s", "catalog.stream_replay_s" -> "s",
    "catalog.build_s.anomaly" -> "s", "catalog.build_s.stream" -> "s",
    "catalog.plan_s.anomaly" -> "s", "catalog.plan_s.stream" -> "s",
    "catalog.execute_s.anomaly" -> "s", "catalog.execute_s.stream" -> "s",
    "tables.open_ms" -> "ms", "tables.open_jobs" -> "count",
    "stream.batches" -> "count", "stream.batch_ms_p50" -> "ms",
    "stream.events_in" -> "count", "stream.state_rows" -> "count",
    "stream.rows_per_batch" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB", "jvm.peak_rss_mb" -> "MB",
    "trace.overhead_ms" -> "ms")

  /** Prints every per-layer metric; `measured` must name only known ones. */
  def emit(out: Outcome, measured: Map[String, Double]): Unit = {
    val unknown = measured.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unknown per-layer metrics $unknown")
    units.foreach { case (n, u) => out.metric(n, measured.getOrElse(n, 0.0), u) }
  }

  /** Median of a sample, 0 when there is none. */
  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Spark listener counts taken around each operation: per-op means and
    * totals over the measured window. */
  def spark(snaps: Seq[SparkSnap]): Map[String, Double] = {
    def sum(f: SparkSnap => Long) = snaps.map(f(_).toDouble).sum
    def mean(f: SparkSnap => Long) = if (snaps.isEmpty) 0.0 else sum(f) / snaps.size
    Map("spark.jobs_per_op" -> mean(_.jobs), "spark.tasks_per_op" -> mean(_.tasks),
      "spark.input_bytes_per_op" -> mean(_.inputBytes),
      "spark.shuffle_bytes_per_op" -> mean(_.shuffleBytes),
      "spark.gc_ms" -> sum(_.gcMs), "spark.jobs" -> sum(_.jobs), "spark.tasks" -> sum(_.tasks),
      "spark.shuffle_bytes" -> sum(_.shuffleBytes), "spark.spill_bytes" -> sum(_.spillBytes))
  }

  /** Self times of the PromQL replay spans, medians in ms. */
  def promql(tr: Tracer): Map[String, Double] = Map(
    "promql.parse_ms" -> p50(tr.selfMsOf("promql.parse")),
    "promql.compile_ms" -> p50(tr.selfMsOf("promql.compile")),
    "spark.plan_ms" -> p50(tr.selfMsOf("spark.plan")),
    "spark.execute_ms" -> p50(tr.selfMsOf("spark.execute")))

  /** One `Tables.events` open, timed with its job count. */
  def tablesOpen(spark: SparkSession, counters: SparkCounters, dataDir: String): Map[String, Double] = {
    val c0 = counters.snap(spark)
    val t0 = System.nanoTime()
    Tables.events(spark, dataDir)
    val ms = (System.nanoTime() - t0) / 1e6
    Map("tables.open_ms" -> ms, "tables.open_jobs" -> (counters.snap(spark) - c0).jobs.toDouble)
  }

  def jvm(gcMsBefore: Long): Map[String, Double] =
    Map("jvm.gc_ms" -> (Jvm.gcMs - gcMsBefore).toDouble, "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "jvm.peak_rss_mb" -> Jvm.peakRssMb)
}
