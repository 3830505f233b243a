package graft
import java.nio.file.{Files, Paths}
import graft.Harness.{json => q}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Dev-loop filter: SPARK_GRAFT_VERIFY_ONLY=q48,s59 dumps only queries
    // whose name starts with a listed prefix (driver leaves this unset).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage).take(300)
      }
      finally CacheBag.drain() // release query-local persisted frames
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Loud-failure manifest (VERDICT r09 item 2): a query that throws must
    // not be silently absent from the correctness artifact. tools/check.py
    // reads this and fails on any declared-but-missing key.
    val status =
      s"""{"declared": ${q(selected.keys.toSeq.sorted.mkString(","))},
         | "failed": ${failed.toSeq.sortBy(_._1)
             .map { case (n, m) => s"{${q(n)}: ${q(m)}}" }.mkString("[", ",", "]")}}"""
        .stripMargin
    Files.writeString(Paths.get(s"$outDir/_verify_status.json"), status)
    System.err.println(
      s"[verify] SUMMARY: ${selected.size - failed.size}/${selected.size} written" +
        (if (failed.nonEmpty) s"; FAILED: ${failed.map(_._1).mkString(",")}" else ""))
    spark.stop()
  }
}
