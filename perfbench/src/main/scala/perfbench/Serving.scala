package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Tables
import graft.functions.{ProtoWire, Snappy}
import graft.metrics.{MetricsServer, Observed, PromQlParser}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The serving face both HTTP workloads drive: `MetricsServer` bound to
  * the `events` table as a `PromSource`, the binding q100–q105 use, plus
  * the same requests made through the public PromQL API for checks and
  * the traced replay. */
final class Serving(val spark: SparkSession, val dataDir: String) extends AutoCloseable {
  import Serving._

  val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)
  private val observed = new Observed(spark)
  val src: PromQlParser.PromSource = PromQlParser.PromSource(Tables.events(spark, dataDir),
    "event_type", Seq("user_id", "event_type"), "ts", "event_id", "value")
  val server = new MetricsServer(observed, 0, Some(src), maxResultRows = MaxRows)
  private val base = s"http://127.0.0.1:${server.boundPort}"

  def client(): HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def request(op: Op): HttpRequest = op match {
    case InstantQ(q, t) => get(s"/api/v1/query?query=${enc(q)}&time=$t")
    case RangeQ(q, s, e, step) =>
      get(s"/api/v1/query_range?query=${enc(q)}&start=$s&end=$e&step=$step")
    case SeriesQ(m) => get(s"/api/v1/series?match[]=${enc(m)}")
    case LabelsQ => get("/api/v1/labels")
    case w: WriteOp =>
      HttpRequest.newBuilder(URI.create(base + "/api/v1/write"))
        .header("Content-Encoding", "snappy")
        .header("Content-Type", "application/x-protobuf")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body(w))).build()
  }
  private def get(path: String) = HttpRequest.newBuilder(URI.create(base + path)).GET().build()

  /** Sends one request: the response body on a 2xx answer whose JSON
    * status is "success", or the reason it failed. */
  def send(c: HttpClient, req: HttpRequest): Either[String, String] =
    try {
      val r = c.send(req, HttpResponse.BodyHandlers.ofString())
      if (r.statusCode / 100 != 2) Left(s"HTTP ${r.statusCode}: ${r.body.take(300)}")
      else if (!r.body.contains("\"status\":\"success\"")) Left(s"status not success: ${r.body.take(300)}")
      else Right(r.body)
    } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** The same query through the public API, as the server plans it. */
  def compile(op: PromQ): DataFrame = op match {
    case InstantQ(q, t) => PromQlParser.eval(src, q, timeString(t)).limit(MaxRows + 1)
    case RangeQ(q, s, e, step) =>
      PromQlParser.evalRange(src, q, timeString(s), timeString(e), step).limit(MaxRows + 1)
  }

  def apiAnswer(op: PromQ): ResultHash = rowsAnswer(compile(op).collect())

  override def close(): Unit = {
    server.close()
    observed.close()
    spark.sparkContext.removeSparkListener(counters)
  }
}

object Serving {
  val MaxRows = 10000
  private val mapper = new ObjectMapper
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def timeString(epochSec: Long): String =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).format(fmt)
  def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  def body(w: WriteOp): Array[Byte] = Snappy.compress(ProtoWire.encode(w.series.map { case (u, ss) =>
    ProtoWire.Series(Seq(ProtoWire.Label("__name__", w.metric), ProtoWire.Label("user_id", u.toString)),
      ss.map { case (t, v) => ProtoWire.Sample(v, t) })
  }))

  /** The recorded check set: the PromQL queries among the first 20
    * requests of a fixed-seed `promql_read` schedule, which use every
    * instant and range template. */
  private val CheckSeed = 20240101L
  val CheckSet: Seq[PromQ] = Schedule.promqlRead(CheckSeed, 20).collect { case q: PromQ => q }

  /** After the timed window: every query of the check set is asked over
    * HTTP and its answer compared with `expected/promql.tsv`, so that a
    * wrong answer from the PromQL compiler or the Spark plan cannot pass
    * as it would in a comparison of the engine with itself. */
  def checkRecorded(s: Serving, expected: java.io.File, out: Outcome): Unit = {
    val c = s.client()
    val t0 = System.nanoTime()
    val got = CheckSet.flatMap { q =>
      s.send(c, s.request(q)) match {
        case Right(body) => Some(q.describe -> httpAnswer(body))
        case Left(err) => out.mismatch(s"${q.describe}: $err"); None
      }
    }.toMap
    Main.info(f"asked the PromQL check set in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Recorded.check(new java.io.File(expected, "promql.tsv"), got, out)
  }

  /** Fixed requests, not from the schedule, that load every handler. */
  def warmUp(s: Serving): Unit = {
    val c = s.client()
    val t = EventsData.StartSec + 10 * 86400L
    Seq(InstantQ("sum by (event_type) (rate(click[1d]))", t),
      InstantQ("topk(3, rate(view[12h]))", t),
      RangeQ("sum by (event_type) (count_over_time(error[6h]))", t - 86400L, t, 600L),
      SeriesQ("""signup{user_id="7"}"""), LabelsQ).foreach { op =>
      s.send(c, s.request(op)).left.foreach(e => sys.error(s"warm-up failed: $e"))
    }
  }

  private def data(json: String): JsonNode = mapper.readTree(json).get("data")

  /** Row count and hash of a vector or matrix answer: per sample its
    * series' label set, its step time on a matrix, and its value rounded
    * as [[ResultHash.num]] does. Comparable with [[Serving.rowsAnswer]]. */
  def httpAnswer(json: String): ResultHash = {
    val d = data(json)
    val res = d.get("result").elements().asScala.toSeq
    def labels(r: JsonNode) = r.get("metric").fields().asScala.map(e => e.getKey -> e.getValue.asText).toSeq
    val samples = d.get("resultType").asText match {
      case "vector" => res.map(r => sample(labels(r), None, promValue(r.get("value").get(1).asText)))
      case "matrix" => res.flatMap { r =>
        r.get("values").elements().asScala.map(v =>
          sample(labels(r), Some(v.get(0).asLong), promValue(v.get(1).asText)))
      }
      case t => sys.error(s"unexpected resultType $t")
    }
    ResultHash.of(samples)
  }

  /** Row count and hash of API rows, as [[Serving.httpAnswer]] hashes the
    * server's rendering of them: every column but `value` and `step_ts`
    * is a label. */
  def rowsAnswer(rows: Array[org.apache.spark.sql.Row]): ResultHash =
    ResultHash.of(rows.map { r =>
      val names = r.schema.fieldNames
      val labels = names.indices.collect {
        case i if names(i) != "value" && names(i) != "step_ts" => names(i) -> String.valueOf(r.get(i))
      }
      val step = if (names.contains("step_ts"))
        Some(r.getAs[java.sql.Timestamp]("step_ts").getTime / 1000) else None
      sample(labels, step, r.getAs[Double]("value"))
    })

  private def sample(labels: Seq[(String, String)], stepSec: Option[Long], v: Double): String =
    labels.map { case (k, x) => s"$k=$x" }.sorted.mkString("{", ",", "}") +
      stepSec.fold("")(t => s"@$t") + " " + ResultHash.num(v)

  /** A sample value as the Prometheus API renders it. */
  def promValue(s: String): Double = s match {
    case "+Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case v => v.toDouble
  }

  /** `user_id` → value of an instant vector answer. */
  def vectorByUser(json: String): Map[Long, Double] =
    data(json).get("result").elements().asScala.map { r =>
      r.get("metric").get("user_id").asText.toLong -> promValue(r.get("value").get(1).asText)
    }.toMap
}
