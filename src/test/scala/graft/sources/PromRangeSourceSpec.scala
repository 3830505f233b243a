package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 range-query connector (P1/P14): partition fan-out, step-grid
  * alignment at slice boundaries, payload determinism, exclusive end. */
class PromRangeSourceSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def read(start: Long, end: Long, step: Long, series: String) =
    spark.read.format("graft.sources.PromRangeSource")
      .option("start", start.toString).option("end", end.toString)
      .option("stepSeconds", step.toString).option("series", series)
      .load()

  test("row count = series × steps; end is exclusive; no slice-boundary dupes") {
    val day = read(1704067200L, 1704153600L, 60L, "cpu,mem")
    assert(day.count() == 2L * 1440L)
    assert(day.select($"series", $"ts").distinct().count() == 2L * 1440L)
    // a step that does not divide the 6h slice (7200-1? use 420s = 7min):
    // slice snapping must neither duplicate nor drop grid points.
    val odd = read(1704067200L, 1704153600L, 420L, "cpu")
    val expected = (1704153600L - 1704067200L + 419L) / 420L
    assert(odd.count() == expected)
    assert(odd.select($"ts").distinct().count() == expected)
  }

  test("reads fan out over series × 6h slices") {
    val day = read(1704067200L, 1704153600L, 60L, "cpu,mem,disk")
    assert(day.rdd.getNumPartitions == 3 * 4) // 24h / 6h slices per series
  }

  test("ts and series filters prune slices without changing results") {
    val base = read(1704067200L, 1704153600L, 60L, "cpu,mem,disk")
    // last 6 hours only → 1 slice per series instead of 4
    val tail = base.filter($"ts" >= lit("2024-01-01 18:00:00").cast("timestamp"))
    assert(tail.count() == 3L * 360L)
    assert(tail.rdd.getNumPartitions == 3)
    // one series → a third of the partitions
    val one = base.filter($"series" === "mem")
    assert(one.count() == 1440L)
    assert(one.rdd.getNumPartitions == 4)
    // combined, plus correctness of an off-slice boundary (re-applied post-scan)
    val mid = base.filter($"series" === "cpu" &&
      $"ts" >= lit("2024-01-01 02:30:00").cast("timestamp") &&
      $"ts" < lit("2024-01-01 03:30:00").cast("timestamp"))
    assert(mid.count() == 60L)
    assert(mid.rdd.getNumPartitions == 1)
  }

  test("micro-batch stream drains the range in multiple batches and equals the batch read") {
    val q = spark.readStream.format("graft.sources.PromRangeSource")
      .option("start", "1704067200").option("end", "1704153600")
      .option("stepSeconds", "300").option("series", "cpu,mem")
      .option("batchSeconds", "21600")
      .load()
      .groupBy($"series").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName("prom_mb").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("prom_mb").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == Map("cpu" -> 288L, "mem" -> 288L)) // 86400/300 per series
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected multiple micro-batches")
  }

  test("column pruning reaches the scan") {
    val df = read(1704067200L, 1704070800L, 60L, "cpu").select($"value")
    val scanOutput = df.queryExecution.executedPlan.collectLeaves().head.output.map(_.name)
    assert(scanOutput == Seq("value"), s"scan should emit only 'value', got $scanOutput")
    assert(df.collect().length == 60)
    assert(df.collect()(0).getDouble(0) == PromRangeSource.sampleValue("cpu", 1704067200L))
  }

  test("payload is deterministic and matches the generator function") {
    val row = read(1704067200L, 1704067260L, 60L, "cpu").collect()(0)
    assert(row.getAs[Double]("value") == PromRangeSource.sampleValue("cpu", 1704067200L))
    assert(row.getAs[java.sql.Timestamp]("ts").getTime == 1704067200000L)
  }

  // ---------- live HTTP face (endpoint option) ----------

  /** Stub query_range endpoint serving the SAME deterministic payload as
    * the generator face, recording every request path. */
  private def withStubServer[A](f: (String, java.util.List[String]) => A): A = {
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val server = graft.metrics.MetricsServer.listen(0)
    server.createContext("/api/v1/query_range",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val q = ex.getRequestURI.getRawQuery
        seen.add(q)
        val params = q.split("&").map(_.split("=", 2))
          .map(kv => kv(0) -> java.net.URLDecoder.decode(kv(1), "UTF-8")).toMap
        val (series, start, end, step) = (params("query"),
          params("start").toLong, params("end").toLong, params("step").toLong)
        val values = (start to end by step)
          .map(s => s"""[$s,"${PromRangeSource.sampleValue(series, s)}"]""")
          .mkString(",")
        val body = (s"""{"status":"success","data":{"resultType":"matrix",""" +
          s""""result":[{"metric":{"__name__":"$series"},"values":[$values]}]}}""")
          .getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body); ex.close()
      })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", seen)
    finally server.stop(0)
  }

  test("HTTP face: endpoint read ≡ generator read, slice-parallel pulls") {
    withStubServer { (ep, seen) =>
      val http = spark.read.format("graft.sources.PromRangeSource")
        .option("start", "1704067200").option("end", "1704153600")
        .option("stepSeconds", "300").option("series", "cpu,mem")
        .option("endpoint", ep).load()
      val gen = read(1704067200L, 1704153600L, 300L, "cpu,mem")
      val a = http.collect().map(_.toString).sorted.toSeq
      val b = gen.collect().map(_.toString).sorted.toSeq
      assert(a == b, "HTTP payload must equal the generator payload")
      // one request per (series × 6h slice): 2 series × 4 slices
      assert(seen.size == 8, s"expected 8 slice pulls, got ${seen.size}")
    }
  }

  test("HTTP face: pruned slices are never fetched") {
    withStubServer { (ep, seen) =>
      val http = spark.read.format("graft.sources.PromRangeSource")
        .option("start", "1704067200").option("end", "1704153600")
        .option("stepSeconds", "300").option("series", "cpu,mem,disk")
        .option("endpoint", ep).load()
        .filter($"series" === "mem" &&
          $"ts" >= lit("2024-01-01 18:00:00").cast("timestamp"))
      assert(http.count() == 72L) // 6h / 300s
      assert(seen.size == 1,
        s"series+ts pushdown must reduce 12 slice pulls to 1, got ${seen.size}")
      assert(seen.get(0).contains("query=mem"))
    }
  }
}
