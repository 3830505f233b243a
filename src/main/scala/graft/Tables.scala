package graft

import graft.metrics.PromQlParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table access for the driver-generated test tables
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md).
  *
  * All engine queries read through here so that scan-level concerns
  * (vectorized parquet reader, pushdown, pruning) are uniform. At 100 TB
  * the same entry point is where partition pruning predicates and
  * bucketing metadata would attach.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    // reader rejects; read nanos as long and rescale to a µs timestamp
    // (truncation — identical to DuckDB's ns→µs handling, FIXTURES.md).
    // inferTimestampNTZ=false keeps all parquet timestamps LTZ so epoch
    // arithmetic (unix_micros) works; the session is pinned to UTC.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }
  }

  /** Range-pruned events read (P14 shape): range predicates must hit the
    * RAW stored `ts` column — not a rewritten one — so the comparison
    * reaches `PushedFilters` and parquet row groups skip. At 100 TB this
    * is the difference between scanning a day and scanning a month.
    *
    * Schema-adaptive like `table`: the testdata has shipped `ts` both as
    * TIMESTAMP(NANOS) (read as raw int64 via nanosAsLong, filtered with
    * bigint bounds, then rescaled) and as timestamp[µs] (filtered with
    * timestamp literals, which push down against row-group min/max
    * natively). Both branches keep the filter on the stored column. */
  def eventsRange(spark: SparkSession, dir: String,
                  startInclusive: String, endExclusive: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    def epochSec(iso: String): Long =
      java.time.LocalDate.parse(iso).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.getEpochSecond
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // stored as int64 nanos (legacy ns testdata)
        df.filter(col("ts") >= epochSec(startInclusive) * 1000000000L &&
                  col("ts") < epochSec(endExclusive) * 1000000000L)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // stored as a real parquet timestamp (current µs testdata)
        df.filter(col("ts") >= timestamp_seconds(lit(epochSec(startInclusive))) &&
                  col("ts") < timestamp_seconds(lit(epochSec(endExclusive))))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` as a PromQL source: `event_type` is the metric name and
    * (user_id, event_type) the series key — the binding of q100–q105. */
  def eventsSrc(s: SparkSession, d: String): PromQlParser.PromSource =
    PromQlParser.PromSource(events(s, d), "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
}
