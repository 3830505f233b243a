package graft.metrics

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Prometheus REMOTE-READ — the server half of the `remote_read`
  * protocol (`prometheus.ReadRequest`/`ReadResponse`, storage/remote):
  * matchers + an ms time range in, raw SAMPLED series out. This is the
  * wire a federating Prometheus or a Thanos sidecar uses to pull raw
  * samples from a long-term store — the read twin of the reference's
  * remote-write ingest path (`CHANGELOG.md:353` prometheus-serde).
  *
  * Wire stand-in rule shared with [[graft.sources.RemoteWrite]]: the
  * upstream frame is snappy-compressed protobuf; this sandbox carries
  * neither dep (zero egress), so request and response use the protobuf
  * JSON mapping (enum matcher types EQ/NEQ/RE/NRE, ms timestamps,
  * label pairs) — a real deployment swaps the codec, nothing else.
  *
  * Request parsing is Jackson on the driver (a request is KB-sized).
  * The DATA path stays in Spark: the matchers render to a selector
  * compiled through [[PromQlParser.selectorCond]] onto the bound
  * source, so predicate pushdown, tombstone masking, and live-ingested
  * samples all apply to remote readers exactly as to /api/v1/query.
  */
object RemoteRead {

  /** One `Query` of a ReadRequest: ms range + matcher triples
    * (label, op, value) with ops already in PromQL spelling. */
  final case class ReadQuery(startMs: Long, endMs: Long,
                             matchers: Seq[(String, String, String)])

  private val mapper = new ObjectMapper()

  /** protobuf-JSON `ReadRequest` → queries. Matcher `type` is the enum
    * name (EQ/NEQ/RE/NRE — the protobuf JSON mapping); missing range
    * edges default open, as upstream treats 0/unset. */
  def parseRequest(json: String): Seq[ReadQuery] = {
    val root = mapper.readTree(json)
    val qs = Option(root.get("queries")).filter(_.isArray).getOrElse(
      throw new IllegalArgumentException("ReadRequest has no queries[]"))
    qs.asScala.toSeq.map { q =>
      val ms = Option(q.get("matchers")).filter(_.isArray)
        .map(_.asScala.toSeq).getOrElse(Nil)
      ReadQuery(
        Option(q.get("startTimestampMs")).map(_.asLong).getOrElse(Long.MinValue),
        Option(q.get("endTimestampMs")).map(_.asLong).getOrElse(Long.MaxValue),
        ms.map { m =>
          val op = m.path("type").asText("EQ") match {
            case "EQ" => "="
            case "NEQ" => "!="
            case "RE" => "=~"
            case "NRE" => "!~"
            case other => throw new IllegalArgumentException(
              s"unknown matcher type: $other")
          }
          (m.path("name").asText, op, m.path("value").asText)
        })
    }
  }

  /** `accepted_response_types` of a ReadRequest (protobuf-JSON enum
    * names). Upstream semantics (storage/remote/codec.go
    * NegotiateResponseType): the FIRST accepted type the server
    * supports wins; an absent/empty list means SAMPLES. */
  def acceptedTypes(json: String): Seq[String] = {
    val root = mapper.readTree(json)
    Option(root.get("acceptedResponseTypes")).filter(_.isArray)
      .map(_.asScala.toSeq.map(_.asText)).getOrElse(Nil)
  }

  /** The PromQL selector string equivalent to the matcher triples —
    * compiled through the SAME parser path serving every other endpoint,
    * so there is exactly one escape rule and one regex-anchoring rule
    * in the engine. */
  def selectorString(matchers: Seq[(String, String, String)]): String = {
    if (matchers.isEmpty)
      throw new IllegalArgumentException("remote-read query has no matchers")
    matchers.map { case (n, op, v) => s"""$n$op"${MetricsServer.promEscape(v)}"""" }
      .mkString("{", ",", "}")
  }
}
