package perfbench

import graft.{CacheBag, SparkEntry, Tables}
import graft.queries.{AnomalyQueries, StreamingQueries}
import org.apache.spark.sql.SparkSession

/** `aiops_catalog`: the reference pipeline (window → preprocess → infer →
  * threshold → score) as the catalog registers it, in batch and streaming
  * form, over the sf0.01-sized table. One untimed pass in name order warms
  * the JVM and the code caches; each timed pass then produces every query
  * in full (`write.format("noop")`) in its own seed-shuffled order, and
  * per query the median of the passes counts. In the first timed pass the
  * same DataFrame is then collected, untimed, and its row count and hash
  * are checked against `expected/aiops_catalog.tsv`. Driver-side build
  * work and the Spark job count dominate; no HTTP or PromQL serving is on
  * the path. */
final class AiopsCatalog(args: Main.Args) extends Workload {
  import AiopsCatalog._
  override def rows: Long = EventsData.SmallRows
  override def users: Int = EventsData.SmallUsers

  private val anomaly = Pipeline.filter(AnomalyQueries.queries.contains).toSet
  private val names: Seq[String] = {
    val missing = Pipeline.filterNot(n => anomaly(n) || StreamingQueries.queries.contains(n))
    require(missing.isEmpty, s"queries not registered: $missing")
    Pipeline.sorted
  }
  // The warm-up pass runs in name order; each timed pass in its own
  // seed-shuffled order.
  private val orders: Seq[Seq[String]] = {
    val r = new scala.util.Random(args.seed)
    Seq.fill(TimedPasses)(r.shuffle(names))
  }
  val digest: String = Schedule.digest(orders.flatten)

  private var dataDir = ""
  private var counters = new SparkCounters
  private var streams = new StreamCounters

  def setup(spark: SparkSession, dir: String): Unit = {
    dataDir = dir
    counters = new SparkCounters
    streams = new StreamCounters
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(streams)
    Warmup.engine(spark)
    Tables.events(spark, dir).count(): Unit
  }

  private def family(n: String) = if (anomaly(n)) "anomaly" else "stream"

  def run(spark: SparkSession, out: Outcome, tracer: Option[Tracer]): Unit = {
    val w0 = System.nanoTime()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => out.fail(s"warm-up $n threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally CacheBag.drain(blocking = true)
    }
    Main.info(f"warm-up pass ${(System.nanoTime() - w0) / 1e9}%.2f s")

    val gc0 = Jvm.gcMs
    val s0 = streams.snap(spark)
    streams.resetDurations()
    val passes = orders.zipWithIndex.map { case (order, p) => pass(spark, order, p, out, tracer) }
    val st = streams.snap(spark) - s0
    val perQuerySec: Map[String, Double] = names.flatMap { n =>
      val ts = passes.flatMap(_.sec.get(n))
      if (ts.isEmpty) None else Some(n -> Stats.median(ts))
    }.toMap
    def famSum(f: String) = perQuerySec.collect { case (n, s) if family(n) == f => s }.sum
    Main.info(f"per pass s: ${passes.map(_.sec.values.sum).map(s => f"$s%.3f").mkString(" ")}; " +
      f"anomaly_batch_s ${famSum("anomaly")}%.3f stream_replay_s ${famSum("stream")}%.3f")
    Main.info(perQuerySec.toSeq.sortBy(-_._2).map { case (n, s) => f"$n=$s%.2f" }
      .mkString("per query s (median of passes): ", " ", ""))

    Recorded.check(new java.io.File(args.expected, "aiops_catalog.tsv"), passes.head.hashes.toMap, out)

    tracer match {
      case None =>
        val ms = perQuerySec.values.map(_ * 1000).toSeq
        require(ms.nonEmpty, "no query completed")
        out.metric("query_p50_ms", Stats.hd(ms, 0.5), "ms")
        out.metric("query_p90_ms", Stats.hd(ms, 0.9), "ms")
        out.metric("query_per_s", ms.size / (ms.sum / 1000), "1/s")
      case Some(tr) =>
        // Per query the median over passes, summed per family.
        def spans(layer: String, f: String) = names.filter(family(_) == f).map { n =>
          Layers.p50(tr.all.filter(s => s.op == names.indexOf(n) && s.name == s"catalog.$layer.$f").map(_.ms))
        }.sum / 1000
        val perPass = 1.0 / passes.size
        Layers.emit(out, Layers.spark(passes.flatMap(_.snaps)).map {
            case (k, v) if k.endsWith("_per_op") => k -> v
            case (k, v) => k -> v * perPass
          } ++ Layers.tablesOpen(spark, counters, dataDir) ++ Layers.jvm(gc0) ++ Map(
          "catalog.anomaly_batch_s" -> spans("query", "anomaly"),
          "catalog.stream_replay_s" -> spans("query", "stream"),
          "catalog.build_s.anomaly" -> spans("build", "anomaly"),
          "catalog.build_s.stream" -> spans("build", "stream"),
          "catalog.plan_s.anomaly" -> spans("plan", "anomaly"),
          "catalog.plan_s.stream" -> spans("plan", "stream"),
          "catalog.execute_s.anomaly" -> spans("execute", "anomaly"),
          "catalog.execute_s.stream" -> spans("execute", "stream"),
          "stream.batches" -> st.batches * perPass,
          "stream.batch_ms_p50" -> Layers.p50(streams.batchDurationsMs),
          "stream.events_in" -> st.inputRows * perPass,
          "stream.state_rows" -> st.stateRows * perPass,
          "stream.rows_per_batch" -> (if (st.batches == 0) 0.0 else st.inputRows.toDouble / st.batches)))
    }
  }

  /** One timed pass. The first pass also checks every output: after each
    * timed query the same DataFrame is collected, untimed, and hashed. */
  private def pass(spark: SparkSession, order: Seq[String], p: Int, out: Outcome,
                   tracer: Option[Tracer]): Pass = {
    val res = Pass(scala.collection.mutable.Map.empty, scala.collection.mutable.Map.empty,
      scala.collection.mutable.ArrayBuffer.empty)
    order.foreach { n =>
      out.attempt()
      val t = System.nanoTime()
      try {
        val df = tracer match {
          case None =>
            val df = SparkEntry.queries(n)(spark, dataDir)
            df.write.format("noop").mode("overwrite").save()
            df
          case Some(tr) =>
            val f = family(n)
            val op = names.indexOf(n)
            val c0 = counters.snap(spark)
            val df = tr.span(s"catalog.query.$f", op) { root =>
              val df = tr.span(s"catalog.build.$f", op, root)(_ => SparkEntry.queries(n)(spark, dataDir))
              tr.span(s"catalog.plan.$f", op, root)(_ => df.queryExecution.executedPlan)
              tr.span(s"catalog.execute.$f", op, root)(_ =>
                df.write.format("noop").mode("overwrite").save())
              df
            }
            res.snaps += counters.snap(spark) - c0
            df
        }
        res.sec(n) = (System.nanoTime() - t) / 1e9
        if (p == 0) res.hashes(n) = ResultHash.ofRows(df.collect())
      } catch {
        case e: Throwable => out.fail(s"$n threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally CacheBag.drain(blocking = true)
    }
    res
  }
}

object AiopsCatalog {
  val TimedPasses = 2

  final case class Pass(sec: scala.collection.mutable.Map[String, Double],
                        hashes: scala.collection.mutable.Map[String, ResultHash],
                        snaps: scala.collection.mutable.ArrayBuffer[SparkSnap])

  /** One query per pipeline stage and form: window assembly, dedup and
    * scaling, PCA inference, threshold fit and score, the unified score
    * and its top-k; the streaming queries run the same stages through
    * micro-batch replay. The autoencoder pair (q268, s269) is left out:
    * each costs 5–8 s a pass with a ±30% spread between runs, more than
    * the run budget and the metric bounds allow. */
  val Pipeline: Seq[String] = Seq(
    "q41_window_assemble", "q32_dedup", "q33_scaler_minmax", "q34_scaler_zscore",
    "q131_multivar_pca_recon", "q36_threshold_fit", "q37_threshold_score",
    "q40_unified", "q42_anomaly_topk",
    "s60_stream_assembler", "s58_stream_dedup", "s112_stream_pca_score",
    "s73_stream_pipeline")
}
