import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-property audit (SCALE.md): walks every declared batch query and
  * reports the physical-plan signals that matter at 100 TB — exchange
  * count, join strategies, cartesian products, codegen coverage, and
  * pushdown. Run per round: `sbt "runMain ExplainAudit [queryName…]"`.
  * [[BenchAudit]] turns the same metrics into a recorded-baseline gate.
  */
object ExplainAudit {

  final case class PlanMetrics(exchanges: Int, bhj: Int, smj: Int, bnlj: Int,
                               cartesian: Int, codegen: Int, pushed: Boolean,
                               rows: Long)

  /** `local[8]`: `tools/plan_baseline.json` was recorded at 8 cores. */
  def auditSession(): SparkSession = graft.Harness.session(8)

  /** Physical-plan metrics for one declared batch query. Executes the
    * query once (AQE finalizes the plan only on execution). */
  def metricsFor(spark: SparkSession, name: String, dir: String): PlanMetrics = {
    try {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode)
      // formatted mode lists each operator in both tree and detail — count
      // only the numbered detail headers "(n) Op"
      def ops(op: String) = s"\\(\\d+\\) $op".r.findAllIn(plan).size
      // AQE finalizes the plan only on execution of THIS df (count() runs a
      // clone) — collect, then read the *(n) whole-stage-codegen markers.
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val rows = df.collect().length.toLong
      val codegen = "\\*\\(\\d+\\)".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
      PlanMetrics(ops("Exchange"), ops("BroadcastHashJoin"), ops("SortMergeJoin"),
        ops("BroadcastNestedLoopJoin"), ops("CartesianProduct"), codegen,
        plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
        rows)
    } finally
      // Harness discipline (Bench/Verify do the same): drop query-local
      // persisted frames so one query's cache cannot rewrite the NEXT
      // query's plan around an InMemoryTableScan — without this the
      // recorded exchange counts depend on audit ORDER (q180's persisted
      // train-hash frame changed q81's count when audited in sequence).
      graft.CacheBag.drain(blocking = true)
  }

  def batchQueryNames: Seq[String] =
    graft.SparkEntry.queries.keys.filterNot(_.startsWith("s")).toSeq.sorted

  def main(args: Array[String]): Unit = {
    val spark = auditSession()
    val d = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else batchQueryNames
    val rows = names.map(q => q -> metricsFor(spark, q, d))
    println(f"${"query"}%-28s shuf bhj smj bnlj cart wscg pushed")
    rows.foreach { case (q, m) =>
      println(f"$q%-28s ${m.exchanges}%4d ${m.bhj}%3d ${m.smj}%3d ${m.bnlj}%4d ${m.cartesian}%4d ${m.codegen}%4d ${m.pushed}%s")
    }
    val warnings = rows.collect {
      case (q, m) if m.cartesian > 0 => s"$q: CARTESIAN PRODUCT"
      case (q, m) if m.exchanges > 8 => s"$q: ${m.exchanges} shuffles"
      // empty-result plans collapse to LocalTableScan under AQE (no
      // codegen needed) — only warn when a non-degenerate plan lost codegen
      case (q, m) if m.codegen == 0 && m.exchanges > 0 && m.rows > 0 =>
        s"$q: no codegen"
    }
    println(if (warnings.isEmpty) "\nAUDIT OK — no cartesians, shuffle counts bounded"
            else "\nWARNINGS:\n" + warnings.mkString("\n"))
    spark.stop()
  }
}
