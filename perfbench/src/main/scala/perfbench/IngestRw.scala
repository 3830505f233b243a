package perfbench

import scala.collection.mutable

import graft.functions.Snappy
import graft.sources.RemoteWrite
import org.apache.spark.sql.SparkSession

/** `ingest_rw`: one client on a fixed, seeded sequence with a fixed
  * operation count. Each step POSTs a remote-write v1 body (snappy +
  * protobuf, a fresh metric) to `/api/v1/write`, reads it back at once,
  * reads back one earlier write, and every other step asks a historic
  * query on `events`. Every read of written data is checked exactly
  * against the generated values. The count is fixed, not the duration:
  * a faster server must not do more writes and so slow its own reads.
  * An untimed warm-up on a throwaway server runs first: a cold ingest
  * path read about 30% slower and varied twice as much between runs. */
final class IngestRw(args: Main.Args) extends Workload {
  import IngestRw._

  private val writes = Schedule.writes(args.seed, Writes, SeriesPerWrite, SamplesPerSeries)
  private val steps: Seq[Step] = {
    val r = new scala.util.Random(args.seed + 7)
    val historic = Schedule.historic(r, Writes / 2).iterator
    writes.flatMap { w =>
      val earlier = if (w.index == 0) Nil else Seq(Step(w, Some(readBack(writes(r.nextInt(w.index))))))
      Seq(Step(w, None), Step(w, Some(readBack(w)))) ++ earlier ++
        (if (w.index % 2 == 1) Seq(Step(w, Some(historic.next()))) else Nil)
    }
  }
  val digest: String = Schedule.digest(steps.map(s => s.read.getOrElse(s.write)))
  private var serving: Serving = _

  def setup(spark: SparkSession, dataDir: String): Unit = {
    serving = new Serving(spark, dataDir)
    Serving.warmUp(serving)
  }
  override def teardown(): Unit = if (serving != null) serving.close()

  /** Untimed: a fixed sequence of writes and read-backs against a
    * throwaway server on the same session, so that the timed sequence
    * starts with the ingest path compiled and warm. */
  private def warmUp(spark: SparkSession): Unit = {
    val s = new Serving(spark, serving.dataDir)
    try {
      val c = s.client()
      Schedule.writes(WarmSeed, WarmWrites, SeriesPerWrite, SamplesPerSeries).foreach { w =>
        Seq(s.request(w), s.request(readBack(w))).foreach(r =>
          s.send(c, r).left.foreach(e => sys.error(s"warm-up failed: $e")))
      }
    } finally s.close()
  }

  def run(spark: SparkSession, out: Outcome, tracer: Option[Tracer]): Unit = {
    warmUp(spark)
    val c = serving.client()
    val writeMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val freshByPrior = mutable.ArrayBuffer.empty[(Double, Double)]
    val historic = mutable.ArrayBuffer.empty[(InstantQ, String)]
    val perOp = mutable.ArrayBuffer.empty[SparkSnap]
    var acked = 0L
    val gc0 = Jvm.gcMs
    val bodies = writes.map(w => w -> serving.request(w)).toMap
    val t0 = System.nanoTime()
    steps.zipWithIndex.foreach { case (step, i) =>
      val op = step.read.getOrElse(step.write)
      val req = step.read.map(serving.request).getOrElse(bodies(step.write))
      out.attempt()
      val c0 = if (tracer.isDefined) Some(serving.counters.snap(spark)) else None
      val s = System.nanoTime()
      val res = tracer match {
        case Some(tr) => tr.span("server.http", i)(_ => serving.send(c, req))
        case None => serving.send(c, req)
      }
      val ms = (System.nanoTime() - s) / 1e6
      c0.foreach(c0 => perOp += serving.counters.snap(spark) - c0)
      res match {
        case Left(err) => out.fail(s"${op.describe}: $err")
        case Right(body) => op match {
          case w: WriteOp =>
            writeMs += ms
            acked += w.samples
          case q: InstantQ if q.query.startsWith("rw_") =>
            val w = writes(q.query.stripPrefix("rw_").toInt)
            val want = w.series.map { case (u, ss) => u -> ss.last._2 }.toMap
            val got = Serving.vectorByUser(body)
            if (got != want) out.fail(s"${q.describe}: read back ${got.size} series, " +
              s"${got.count { case (u, v) => !want.get(u).contains(v) }} differ from the written values")
            else {
              readMs += ms
              if (w eq step.write) freshByPrior += ((w.index.toDouble, ms))
            }
          case q: InstantQ =>
            readMs += ms
            historic += ((q, body))
          case other => sys.error(s"unexpected $other")
        }
      }
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    // Historic answers against the public API on the bare `events` source:
    // written metrics have names of their own, so they cannot change them.
    historic.foreach { case (q, body) =>
      val api = serving.apiAnswer(q)
      val http = Serving.httpAnswer(body)
      if (api != http) out.mismatch(s"${q.describe}: HTTP $http, API $api")
    }
    // The recorded check set, on a fresh server: on this one every read
    // re-decodes all the written bodies, which would double the check's
    // cost. Written data cannot leak into historic answers unseen; the
    // comparison above would find it.
    val fresh = new Serving(spark, serving.dataDir)
    try Serving.checkRecorded(fresh, args.expected, out) finally fresh.close()
    Main.info(f"writes ${writeMs.size} reads ${readMs.size} historic checked ${historic.size} wall $wallSec%.2f s")

    tracer match {
      case None =>
        require(readMs.nonEmpty, "no read completed")
        out.metric("query_p50_ms", Stats.hd(readMs.toSeq, 0.5), "ms")
        out.metric("query_p90_ms", Stats.hd(readMs.toSeq, 0.9), "ms")
        out.metric("query_per_s", readMs.size / wallSec, "1/s")
      case Some(tr) =>
        Layers.emit(out, Layers.spark(perOp.toSeq) ++
          Layers.tablesOpen(spark, serving.counters, serving.dataDir) ++ Layers.jvm(gc0) ++ Map(
            "ingest.write_p50_ms" -> Layers.p50(writeMs.toSeq),
            "ingest.write_p90_ms" -> (if (writeMs.isEmpty) 0.0 else Stats.quantile(writeMs.toSeq, 0.9)),
            "ingest.samples_per_s" -> acked / wallSec,
            "ingest.read_ms_per_prior_write" -> Stats.slope(freshByPrior.toSeq),
            "sources.decode_ms" -> decodeMs(spark)))
    }
  }

  /** `Snappy.decompress` + `RemoteWrite.parsePb` + `collect` on one body,
    * the work every later read repeats per earlier write; median of 5. */
  private def decodeMs(spark: SparkSession): Double = {
    import spark.implicits._
    val raw = Serving.body(writes.head)
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      RemoteWrite.parsePb(Seq(Snappy.decompress(raw)).toDF("pb")).collect()
      (System.nanoTime() - t0) / 1e6
    })
  }
}

object IngestRw {
  val Writes = 16
  val WarmWrites = 6
  val WarmSeed = -1L
  val SeriesPerWrite = 50
  val SamplesPerSeries = 20
  /** A write, or a read that follows it. */
  final case class Step(write: WriteOp, read: Option[InstantQ])

  /** The instant query that returns a write's last sample per series. */
  def readBack(w: WriteOp): InstantQ = InstantQ(w.metric, w.lastMs / 1000)
}
