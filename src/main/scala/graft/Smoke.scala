package graft

/** Dev smoke runner: exercises the driver's t1 contract surface —
  * `SparkEntry.entry` on sf0.001 must return >0 rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows = $n " + (if (n > 0) "OK" else "FAIL"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
