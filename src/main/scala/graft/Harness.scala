package graft

import org.apache.spark.sql.SparkSession

/** The one place that builds a session, warms it up and times a declared
  * query. Every `main` (Bench, ScaleBench, Verify, Smoke, PlanDump,
  * ScaleGen, ExplainAudit) and the test session go through it, so they
  * all run the same session configuration.
  *
  * Settings, read here only:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default 4)
  *   - `SPARK_GRAFT_SF_DIR`: the scale-factor data directory (default sf0.1)
  */
object Harness {

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with one shuffle partition per core, the UTC session
    * time zone (every query's day/hour truncation assumes it), no UI, and
    * WARN logging. */
  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Loads what the first timed query would otherwise pay for: JVM/codegen
    * JIT, the vectorized parquet reader and footer machinery (~1 s of class
    * loading on first touch; region is 5 rows, so the read itself is free),
    * and the StreamExecution/state-store machinery via one throwaway
    * micro-batch. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    try {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = ms.toDS().groupBy($"value").count()
        .writeStream.outputMode("complete").format("memory").queryName("warmup").start()
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable(); q.stop()
    } catch { case _: Throwable => () }
  }

  /** One timed run: wall seconds and the row count. */
  final case class Timed(seconds: Double, rows: Long)

  /** Times `SparkEntry.queries(name)(spark, sfDir).count()`. The query's
    * cached frames are drained BLOCKING and outside the timer, so one
    * query's cache eviction can neither inflate its own time nor bleed
    * into the next query's. A query that throws yields its throwable,
    * never a time. */
  def run(spark: SparkSession, name: String, sfDir: String): Either[Throwable, Timed] =
    try {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      Right(Timed((System.nanoTime() - t0) / 1e9, rows))
    } catch { case e: Throwable => Left(e) }
    finally CacheBag.drain(blocking = true)

  /** A JSON string literal: escapes backslash, quote and every control
    * char (< 0x20), so an error message or hand-written SQL with a tab
    * or CR cannot break a consumer's JSON parse. */
  def json(s: String): String = "\"" + graft.metrics.MetricsServer.jsonEscape(s) + "\""
}
