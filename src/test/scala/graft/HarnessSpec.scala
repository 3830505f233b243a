package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one measurement harness: its session configuration, and that a
  * query which throws is reported as a failure, never as a time. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("session: local[cpus], shuffle partitions = cpus, UTC") {
    assert(spark.sparkContext.master == "local[8]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("run: a query that throws yields its failure and leaves CacheBag empty") {
    val cached = CacheBag.register(spark.range(10).toDF("id").persist())
    cached.count()
    assert(!CacheBag.isEmpty)
    // the data directory does not exist, so the query's parquet read throws
    val r = Harness.run(spark, "q01_pricing_summary", "/nonexistent/sf0.1")
    assert(r.isLeft, s"expected a failure, got $r")
    assert(CacheBag.isEmpty)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(Harness.run(spark, "no_such_query", TestSpark.SF).isLeft)
  }

  test("run: a good query yields its wall time and row count") {
    val r = Harness.run(spark, "q01_pricing_summary", TestSpark.SF)
    val t = r.getOrElse(fail(s"q01 failed: $r"))
    assert(t.seconds > 0 && t.rows > 0)
    assert(CacheBag.isEmpty)
  }
}
