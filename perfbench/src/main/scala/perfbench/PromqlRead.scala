package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.metrics.PromQlParser
import org.apache.spark.sql.SparkSession

/** `promql_read`: a closed loop of 3 HTTP clients against `MetricsServer`,
  * about 75% instant queries, 20% range queries and 5% metadata requests.
  * Fixed per-request cost dominates: parse, compile, plan and a small
  * scan. No anomaly or streaming code runs. */
final class PromqlRead(args: Main.Args) extends Workload {
  import PromqlRead._

  // More requests than any run can send; the loop stops on the clock.
  private val ops: IndexedSeq[Op] = Schedule.promqlRead(args.seed, 200 + args.seconds * 100).toIndexedSeq
  val digest: String = Schedule.digest(ops)
  private val warmOps: IndexedSeq[Op] = Schedule.promqlRead(WarmSeed, 200 + WarmSeconds * 100).toIndexedSeq
  private var serving: Serving = _

  def setup(spark: SparkSession, dataDir: String): Unit = {
    serving = new Serving(spark, dataDir)
    Serving.warmUp(serving)
  }
  override def teardown(): Unit = if (serving != null) serving.close()

  def run(spark: SparkSession, out: Outcome, tracer: Option[Tracer]): Unit = tracer match {
    case None =>
      // Untimed traffic first, from a fixed schedule, so that the timed
      // window starts with JIT and caches settled.
      val warm = new Outcome
      closedLoop(warmOps, Clients, WarmSeconds * 1e9, warm)
      warm.errorLines.headOption.foreach(e => out.fail(s"warm-up: $e"))
      val (done, wallSec) = closedLoop(ops, Clients, args.seconds * 1e9, out)
      val ms = done.values.map(_.ms).toSeq
      require(ms.nonEmpty, "no request completed")
      out.metric("query_p50_ms", Stats.hd(ms, 0.5), "ms")
      out.metric("query_p90_ms", Stats.hd(ms, 0.9), "ms")
      out.metric("query_per_s", done.size / wallSec, "1/s")
      Main.info(s"requests completed ${done.size}, failed ${out.failed}")
      check(done, out)
      Serving.checkRecorded(serving, args.expected, out)
    case Some(tr) => traced(spark, tr, out)
  }

  /** Runs `clients` closed-loop clients over the schedule for `budgetNs`;
    * returns the successful requests by schedule index and the wall time.
    * A failed request records no latency. */
  private def closedLoop(ops: IndexedSeq[Op], clients: Int, budgetNs: Double,
                         out: Outcome): (Map[Int, Done], Double) = {
    val next = new AtomicInteger
    val done = new java.util.concurrent.ConcurrentHashMap[Int, Done]
    val reqs = ops.map(serving.request)
    val t0 = System.nanoTime()
    val threads = (1 to clients).map { _ =>
      val t = new Thread(() => {
        val c = serving.client()
        var i = next.getAndIncrement()
        while (System.nanoTime() - t0 < budgetNs && i < ops.size) {
          out.attempt()
          val s = System.nanoTime()
          serving.send(c, reqs(i)) match {
            case Right(body) => done.put(i, Done((System.nanoTime() - s) / 1e6, body))
            case Left(err) => out.fail(s"${ops(i).describe}: $err")
          }
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (done.asScala.toMap, (System.nanoTime() - t0) / 1e9)
  }

  /** After the timed window: a seeded sample of the answered queries is
    * asked again through `PromQlParser.eval`/`evalRange` and compared by
    * row count and hash of the labelled, rounded samples. This finds
    * faults of the server and its JSON rendering; the recorded check set
    * finds those of the compiler and the plan. */
  private def check(done: Map[Int, Done], out: Outcome): Unit = {
    val queries = done.keys.toSeq.sorted.collect { i => ops(i) match { case q: PromQ => i -> q } }
    val sample = new scala.util.Random(args.seed + 1).shuffle(queries).take(CheckSample)
    sample.foreach { case (i, q) =>
      val api = serving.apiAnswer(q)
      val http = Serving.httpAnswer(done(i).body)
      if (api != http) out.mismatch(s"${q.describe}: HTTP $http, API $api")
    }
    Main.info(s"checked ${sample.size} answers against the public API")
  }

  /** One client, so that listener counts fall inside one request. Each
    * request is sent once to warm up, once untraced and once traced, and
    * then replayed through the public API under promql.parse →
    * promql.compile → spark.plan → spark.execute, so that the three timed
    * executions all run warm. Tracing overhead is traced minus untraced. */
  private def traced(spark: SparkSession, tr: Tracer, out: Outcome): Unit = {
    val c = serving.client()
    val perOp = mutable.ArrayBuffer.empty[(SparkSnap, Int)]
    val overheads = mutable.ArrayBuffer.empty[Double]
    val traceCost = mutable.ArrayBuffer.empty[Double]
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    var j = 0
    while (System.nanoTime() - t0 < args.seconds * 1e9 && j < ops.size) {
      val op = ops(j)
      val req = serving.request(op)
      out.attempt()
      serving.send(c, req)
      val s = System.nanoTime()
      val plain = serving.send(c, req)
      val plainMs = (System.nanoTime() - s) / 1e6
      val c0 = serving.counters.snap(spark)
      val res = tr.span("server.http", j)(_ => serving.send(c, req))
      val http = tr.msOf(j, "server.http")
      (plain, res) match {
        case (Left(err), _) => out.fail(s"${op.describe}: $err")
        case (_, Left(err)) => out.fail(s"${op.describe}: $err")
        case (Right(_), Right(body)) =>
          perOp += ((serving.counters.snap(spark) - c0, body.length))
          traceCost += http - plainMs
          op match {
            case q: PromQ =>
              val api = tr.span("api", j) { root =>
                tr.span("promql.parse", j, root)(_ => PromQlParser.parse(q.query))
                val df = tr.span("promql.compile", j, root)(_ => serving.compile(q))
                tr.span("spark.plan", j, root)(_ => df.queryExecution.executedPlan)
                tr.span("spark.execute", j, root)(_ => df.collect())
              }
              overheads += http - tr.msOf(j, "promql.compile", "spark.plan", "spark.execute")
              val want = Serving.httpAnswer(body)
              val got = Serving.rowsAnswer(api)
              if (got != want) out.mismatch(s"${q.describe}: HTTP $want, API $got")
            case _ =>
          }
      }
      j += 1
    }
    Layers.emit(out, Layers.spark(perOp.map(_._1).toSeq) ++ Layers.promql(tr) ++
      Layers.tablesOpen(spark, serving.counters, serving.dataDir) ++ Layers.jvm(gc0) ++ Map(
        "server.overhead_ms" -> Layers.p50(overheads.toSeq),
        "server.response_bytes" -> Stats.mean(perOp.map(_._2.toDouble).toSeq),
        "trace.overhead_ms" -> Layers.p50(traceCost.toSeq)))
    Serving.checkRecorded(serving, args.expected, out)
  }
}

object PromqlRead {
  val Clients = 3
  val WarmSeconds = 3
  val WarmSeed = -1L
  val CheckSample = 8
  final case class Done(ms: Double, body: String)
}
