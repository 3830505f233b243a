package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round evidence dumper: writes `.explain("formatted")` for
  * named declared queries to `plans/<tag>/<query>_<suffix>.txt`, on
  * Bench's session ([[Harness.session]]) so the captured plan is the one
  * the bench actually runs.
  *
  *   sbt "runMain graft.PlanDump r14 before q180_bloom_decontamination ..."
  *
  * Batch queries only (streaming plans finalize inside the micro-batch
  * runner; their harness cost is scheduler machinery, not plan shape).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query...>")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val dir = Paths.get(s"plans/$tag")
    Files.createDirectories(dir)
    names.foreach { name =>
      val txt =
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      finally CacheBag.drain(blocking = true)
      Files.write(dir.resolve(s"${name}_$suffix.txt"), txt.getBytes(UTF_8))
      println(s"[plandump] $name -> plans/$tag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
