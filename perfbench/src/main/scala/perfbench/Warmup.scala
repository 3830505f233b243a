package perfbench

import org.apache.spark.sql.SparkSession

/** Engine warm-up outside any timed window, as `graft.Bench` does it:
  * codegen, the parquet reader and the streaming machinery class-load on
  * first touch. */
object Warmup {
  def engine(spark: SparkSession): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = ms.toDS().groupBy($"value").count()
      .writeStream.outputMode("complete").format("memory").queryName("perfbench_warmup").start()
    try { ms.addData(1L, 2L, 3L); q.processAllAvailable() } finally q.stop()
  }
}
