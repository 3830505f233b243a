package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `events` table every workload reads, generated from a fixed seed so
  * that all runs, and the parent and child commits, measure the same data.
  * The workload seed shapes only the schedule of requests.
  *
  * Shape follows the engine's fixtures: samples spread over 2024-01-01 ..
  * 2024-01-30, one `user_id` per 66.7 samples × 5 `event_type` (sf0.1:
  * 100,000 samples, 1,500 users, 7,500 series), µs timestamps,
  * exponential 2-decimal values of mean 50 and a small JSON `props`. */
object EventsData {
  /** The serving workloads' table, at the sf0.1 size. */
  val Rows = 100000L
  val Users = 1500
  /** The catalog workload's table, at the sf0.01 size. */
  val SmallRows = 10000L
  val SmallUsers = 150
  val Types: Seq[String] = Seq("click", "purchase", "error", "signup", "view")
  val StartSec = 1704067200L // 2024-01-01T00:00:00Z
  val SpanSec = 29L * 86400L // up to 2024-01-30
  private val DataSeed = 42

  /** Returns the directory holding `events.parquet`, writing it once. */
  def ensure(spark: SparkSession, work: File, rows: Long = Rows, users: Int = Users): String = {
    val dir = new File(work, s"data-v1-$DataSeed-$rows-$users")
    if (!new File(dir, "events.parquet/_SUCCESS").isFile) {
      val tmp = new File(work, s"data-tmp-${ProcessHandle.current().pid()}")
      val types = array(Types.map(lit): _*)
      def h(salt: Int) = pmod(xxhash64(col("id"), lit(DataSeed), lit(salt)), lit(Long.MaxValue))
      val usPerRow = SpanSec * 1000000L / rows
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      spark.range(rows).select(
          col("id").as("event_id"),
          timestamp_micros(lit(StartSec * 1000000L) + col("id") * usPerRow +
            pmod(h(1), lit(usPerRow))).as("ts"),
          pmod(h(2), lit(users.toLong)).as("user_id"),
          element_at(types, (pmod(h(3), lit(Types.size.toLong)) + 1).cast("int")).as("event_type"),
          round(-log((pmod(h(4), lit(1000000000L)) + 1) / 1e9) * 50.0, 2).as("value"),
          concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
        .coalesce(1)
        .write.mode("overwrite").parquet(new File(tmp, "events.parquet").getAbsolutePath)
      spark.conf.unset("spark.sql.parquet.outputTimestampType")
      deleteTree(dir)
      if (!tmp.renameTo(dir)) sys.error(s"cannot move generated data to $dir")
    }
    dir.getAbsolutePath
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
