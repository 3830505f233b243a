package graft.metrics

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, collect_list, element_at, expr, lit, max, max_by, min, row_number, sort_array, struct, to_timestamp}
import scala.jdk.CollectionConverters._

/** A8 + P14: the engine's HTTP face — Prometheus text-format exposition
  * plus the Prometheus HTTP query API.
  *
  *  - `GET /metrics` — exposition format 0.0.4 over [[Observed]]'s
  *    snapshot (the reference started `prometheus_client.start_http_server`
  *    the same way; `numaprom/monitoring/__init__.py:16-24`).
  *  - `GET /api/v1/query?query=...&time=...` — instant PromQL evaluation
  *    through [[PromQlParser.eval]], returned as the Prometheus API's
  *    `vector` JSON (the service face the reference's fetcher consumed;
  *    `reference/CHANGELOG.md:10`).
  *  - `GET /api/v1/query_range?query=...&start=...&end=...&step=...` —
  *    step-grid evaluation through [[PromQlParser.evalRange]], returned as
  *    `matrix` JSON (the fetcher's `query_range` contract,
  *    `reference/CHANGELOG.md:90`). `step` accepts seconds or a duration
  *    (`5m`), as in Prometheus.
  *  - `GET /api/v1/labels`, `/api/v1/label/<name>/values`,
  *    `/api/v1/series?match[]=<selector>` — the metadata endpoints
  *    Prometheus clients use for discovery, served from the bound
  *    source's label columns / distinct values / matching series (each a
  *    distinct-aggregation plan, capped like the query endpoints).
  *  - `GET /api/v1/rules` / `/api/v1/alerts` (when alerting rules are
  *    bound) — rule definitions + on-demand [[AlertRules]] state at an
  *    explicit `time` (`step` optional, default 60 s): the engine has no
  *    background evaluation loop, so state is computed from the trailing
  *    `for` window per request instead of read from a scheduler.
  *  - `GET /federate?match[]=...&time=...` — the federation scrape face:
  *    newest-in-staleness-window sample per series matching ANY match[]
  *    selector, as exposition text with original sample timestamps (ms)
  *    and configured `externalLabels` filled in where the series doesn't
  *    already carry the label.
  *
  * The query endpoints exist only when a [[PromQlParser.PromSource]] is
  * bound; an instant/range result is vector-sized (series × steps, not
  * samples) — but a high-cardinality selector can still make that vector
  * arbitrarily large, so the collect is HARD-CAPPED at `maxResultRows`:
  * the plan fetches `limit(max + 1)` and an over-limit result returns a
  * 422 `too_many_results` error instead of materializing every series in
  * driver memory (the only unbounded driver collect the round-7 audit
  * found in the tree).
  *
  * Every query is served in the bound frame's own partition count, read
  * once when the server is built: a one-partition source (one small
  * parquet file) stays one partition after the ingest union and the
  * tombstone mask, so a served query plans no exchange and runs as one
  * Spark job; a larger source keeps its partitions and its parallelism.
  * A bound frame whose own plan has an exchange runs that shuffle once,
  * at construction, to learn the count.
  *
  * Every endpoint is a function from one [[MetricsServer.Request]] (path,
  * method, headers, the body read once, the multi-valued URL-plus-form
  * parameters) to one [[MetricsServer.Reply]] (status, Content-Type,
  * optional Content-Encoding, body), and one handler serves them all: it
  * parses the request, maps an error — [[MetricsServer.ResultTooLarge]] →
  * 422 `too_many_results`, anything else → 400 `bad_data`, in the JSON
  * error envelope (`/federate`: as plain text) — and is the one place a
  * reply is written.
  *
  * JDK built-in `HttpServer`, zero dependencies, a pool of 4 daemon
  * handler threads sharing the one Spark session;
  * `port = 0` binds an ephemeral port (read it back via [[boundPort]]).
  * Loopback-only by design: production scrapes go through the pod network
  * namespace exactly like the reference's sidecar-scraped endpoint.
  */
final class MetricsServer(observed: Observed, port: Int = 0,
                          promSource: Option[PromQlParser.PromSource] = None,
                          maxResultRows: Int = 10000,
                          rules: Seq[AlertRules.Rule] = Nil,
                          exemplarFrame: Option[org.apache.spark.sql.DataFrame] = None,
                          externalLabels: Seq[(String, String)] = Nil,
                          metadata: Seq[PromMetricList] = Nil,
                          targets: Option[org.apache.spark.sql.DataFrame] = None)
    extends AutoCloseable {
  import MetricsServer.{Reply, Request}

  private val startedAtMs: Long = System.currentTimeMillis()

  private val server =
    HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
  /** Binds `f` to `context` through the one request path,
    * [[MetricsServer.handler]]; `errorReply` bodies its mapped errors. */
  private def route(context: String,
                    errorReply: (Int, String, String) => Reply = MetricsServer.jsonError)(
      f: Request => Reply): Unit =
    server.createContext(context, MetricsServer.handler(f, errorReply)): Unit
  /** [[route]] for a JSON endpoint: `f` renders the 200 body. */
  private def json(context: String)(f: Request => String): Unit =
    route(context)(req => Reply.json(f(req)))

  route("/metrics") { _ =>
    Reply(200, MetricsServer.Exposition, MetricsServer.render(observed.snapshot))
  }
  // Prettifier endpoint (stable upstream since 2.46): parse + canonical
  // re-print. Pure parsing — needs no source, and a syntax error surfaces
  // as the handler's standard {"status":"error"} envelope.
  json("/api/v1/format_query") { req =>
    s"""{"status":"success","data":"${MetricsServer.jsonEscape(PromQlFormat.format(req.need("query")))}"}"""
  }
  // AST endpoint (3.x experimental, --enable-feature=promql-experimental-
  // functions era): the parsed tree in the upstream translateAST JSON
  // shape. Pure parsing, no source needed.
  json("/api/v1/parse_query") { req =>
    s"""{"status":"success","data":${PromQlJson.json(req.need("query"))}}"""
  }
  // Metric metadata (upstream api/v1/metadata): HELP/TYPE per metric from
  // the configured metric lists; `metric` filters to one name, `limit`
  // caps the number of metrics (upstream semantics: limit counts METRICS).
  json("/api/v1/metadata") { req =>
    val wanted = req.get("metric")
    val limit = req.get("limit").map(_.toInt).getOrElse(Int.MaxValue)
    val entries = metadata
      .flatMap(l => l.metrics.map(m => (m.name, l.kind.toLowerCase, m.description)))
      .filter(e => wanted.forall(_ == e._1))
      .groupBy(_._1).toSeq.sortBy(_._1).take(limit)
      .map { case (name, ms) =>
        val items = ms.map { case (_, kind, help) =>
          s"""{"type":"${MetricsServer.jsonEscape(kind)}","help":"${MetricsServer.jsonEscape(help)}","unit":""}"""
        }.mkString("[", ",", "]")
        s""""${MetricsServer.jsonEscape(name)}":$items"""
      }
    s"""{"status":"success","data":{${entries.mkString(",")}}}"""
  }
  // Lifecycle + status faces (upstream web/api): health/readiness probes
  // and the buildinfo/flags status endpoints k8s and dashboards poll.
  json("/-/healthy") { _ => """{"status":"success","data":"Healthy"}""" }
  json("/-/ready") { _ => """{"status":"success","data":"Ready"}""" }
  json("/api/v1/status/buildinfo") { _ =>
    s"""{"status":"success","data":{"version":"graft-0.11","revision":"spark",""" +
      s""""features":{"promql-experimental-functions":"true"}}}""" }
  json("/api/v1/status/flags") { _ =>
    s"""{"status":"success","data":{"query.max-result-rows":"$maxResultRows",""" +
      s""""web.enable-admin-api":"true","storage.tsdb.retention.time":"0s"}}""" }
  json("/api/v1/status/runtimeinfo") { _ =>
    val rt = Runtime.getRuntime
    s"""{"status":"success","data":{"startTime":"${MetricsServer.iso(startedAtMs)}",""" +
      s""""CWD":"${MetricsServer.jsonEscape(sys.props("user.dir"))}",""" +
      s""""reloadConfigSuccess":true,"goroutineCount":${rt.availableProcessors()},""" +
      s""""storageRetention":"0s"}}""" }
  // The engine serves from parquet, not a WAL — replay is always
  // complete by the time the server answers (the q206 replay path runs
  // at load, not serve). Upstream shape: min/max/current/state.
  json("/api/v1/status/walreplay") { _ =>
    """{"status":"success","data":{"min":0,"max":0,"current":0,"state":"done"}}""" }
  // status/config serves the server's ACTUAL effective configuration
  // rendered as YAML (the upstream shape: {"yaml": "..."}) — external
  // labels, rule count, and the result cap are what this server truly
  // runs with; there is no config file to echo.
  json("/api/v1/status/config") { _ =>
    val ext = externalLabels.map { case (k, v) => s"    $k: $v" }.mkString("\n")
    val yaml = "global:\n  external_labels:\n" +
      (if (ext.nonEmpty) ext + "\n" else "") +
      s"query:\n  max_result_rows: $maxResultRows\n" +
      s"rule_files_inline: ${rules.size}\n"
    s"""{"status":"success","data":{"yaml":"${MetricsServer.jsonEscape(yaml)}"}}""" }
  // No scrape manager / alertmanager discovery in this engine — the
  // upstream endpoints exist and serve their empty-but-well-formed
  // shapes (exactly what a Prometheus with no scrape_configs returns).
  // targets: data-bearing when a targets frame is bound (columns `job`,
  // `instance`, `health`, `last_scrape` — the q205 scrape-state shape);
  // otherwise the empty-but-well-formed no-scrape-config shape.
  json("/api/v1/targets") { req =>
    targets match {
      case None =>
        """{"status":"success","data":{"activeTargets":[],"droppedTargets":[]}}"""
      case Some(tf) =>
        val items = MetricsServer.collectCapped(tf, maxResultRows).rows.toSeq.map { r =>
          val job = String.valueOf(r.getAs[Any]("job"))
          val inst = String.valueOf(r.getAs[Any]("instance"))
          val health = String.valueOf(r.getAs[Any]("health"))
          val lastScrape = MetricsServer.iso(
            r.getAs[java.sql.Timestamp]("last_scrape").getTime)
          s"""{"discoveredLabels":{"job":"${MetricsServer.jsonEscape(job)}"},""" +
            s""""labels":{"job":"${MetricsServer.jsonEscape(job)}",""" +
            s""""instance":"${MetricsServer.jsonEscape(inst)}"},""" +
            s""""scrapeUrl":"http://${MetricsServer.jsonEscape(inst)}/metrics",""" +
            s""""health":"${MetricsServer.jsonEscape(health)}",""" +
            s""""lastScrape":"$lastScrape"}"""
        }
        // upstream ?state=active|dropped|any: this engine drops nothing
        val active = if (req.get("state").contains("dropped")) Nil else items
        s"""{"status":"success","data":{"activeTargets":[${active.mkString(",")}],""" +
          s""""droppedTargets":[]}}"""
    } }
  json("/api/v1/alertmanagers") { _ =>
    """{"status":"success","data":{"activeAlertmanagers":[],"droppedAlertmanagers":[]}}""" }
  json("/api/v1/notifications") { _ => """{"status":"success","data":[]}""" }
  // TSDB admin API and ingest state (upstream: --web.enable-admin-api),
  // held as ONE immutable snapshot and swapped whole under this server's
  // lock, so the handler threads never see half an update: a reader
  // takes `state` once. Tombstones recorded by delete_series MASK every
  // serving read; clean_tombstones folds them permanently into the
  // stored plan and clears the list. Plan-level masking is the
  // serving-face analogue of the physical rewrite (Tombstones.clean),
  // which q199 proves equivalent on the block store.
  @volatile private var state = MetricsServer.Serving(None, Vector.empty, None, Nil)

  // The bound frame's own partition count, read once. Serving in that
  // many partitions keeps a one-partition source one partition after the
  // ingest union: Spark then reports SinglePartition, which satisfies
  // every distribution a window, aggregation, join or sort asks for, so
  // no exchange is planned and a query runs as one job.
  private val boundPartitions = promSource.map(_.df.rdd.getNumPartitions)

  /** The served source: the bound frame (or its cleaned fold) plus the
    * ingested rows, tombstone-masked, all from one snapshot, in the bound
    * frame's partition count. */
  private[metrics] def served: Option[PromQlParser.PromSource] =
    promSource.map { boundSrc =>
      val s = state
      val stored = s.stored.getOrElse(boundSrc.df)
      val df = s.ingested.fold(stored)(stored.unionByName(_))
      val masked =
        if (s.tombstones.isEmpty) df
        else Tombstones.mask(df, s.tombstones, boundSrc.tsCol)
      boundSrc.copy(df = masked.coalesce(boundPartitions.get))
    }

  promSource.foreach { boundSrc =>
    def src: PromQlParser.PromSource = served.get
    // Shape parsed wire samples (metric/ts/value + a label map) onto the
    // bound source's schema — the same projection RecordingRules uses.
    def shapeIngest(parsed: org.apache.spark.sql.DataFrame,
                    labelsCol: String): org.apache.spark.sql.DataFrame = {
      val base = boundSrc.df
      def typed(c: String) = base.schema(c).dataType
      parsed.select(base.columns.toSeq.map {
        case c if c == boundSrc.metricCol =>
          col("metric").cast(typed(c)).as(c)
        case c if c == boundSrc.tsCol => col("ts").cast(typed(c)).as(c)
        case c if c == boundSrc.valueCol => col("value").cast(typed(c)).as(c)
        case c if c == boundSrc.orderCol => lit(0L).cast(typed(c)).as(c)
        case c => element_at(col(labelsCol), c).cast(typed(c)).as(c)
      }: _*)
    }
    // Decode once, on write: the body's shaped rows are collected here,
    // so a body that fails to decode fails its own POST (400), and the
    // served ingest is ONE local relation of every accepted row — a read
    // never re-runs an earlier body's decode, and the plan keeps one
    // ingest leaf however many writes arrived.
    val ingestSchema = org.apache.spark.sql.types.StructType(
      boundSrc.df.schema.map(_.copy(nullable = true)))
    def appendIngest(shaped: org.apache.spark.sql.DataFrame): Unit = {
      val rows = shaped.collect()
      if (rows.nonEmpty) synchronized {
        val all = state.rows ++ rows
        state = state.copy(rows = all, ingested = Some(boundSrc.df.sparkSession
          .createDataFrame(all.asJava, ingestSchema)))
      }
    }
    // Remote-write RECEIVER (POST /api/v1/write): the REAL wire — a
    // stock Prometheus POSTs `Content-Encoding: snappy` over protobuf
    // (v1 `prometheus.WriteRequest`, or v2 `io.prometheus.write.v2
    // .Request` selected by the Content-Type proto= parameter) — plus
    // the JSON mapping for hand-written bodies. All three wires land in
    // the same shapeIngest → appendIngest, queryable at once.
    json("/api/v1/write") { req =>
      import boundSrc.df.sparkSession.implicits._
      val body = req.unsnappied
      val ctype = req.header("Content-Type")
      val isV2 = ctype.exists(_.contains("write.v2"))
      val isJson = body.nonEmpty && body(0) == '{' &&
        !ctype.exists(_.contains("protobuf"))
      val parsed =
        if (isJson)
          graft.sources.RemoteWrite.parse(
            Seq(new String(body, "UTF-8")).toDF("json"))
        else if (isV2)
          graft.sources.RemoteWrite.parseV2Pb(Seq(body).toDF("pb"))
            .filter(!col("is_exemplar"))
            .select(col("metric"), col("labels"), col("ts"), col("value"))
        else
          graft.sources.RemoteWrite.parsePb(Seq(body).toDF("pb"))
      appendIngest(shapeIngest(parsed, "labels"))
      """{"status":"success","data":null}"""
    }
    // OTLP receiver (POST /api/v1/otlp/v1/metrics, the 3.x endpoint):
    // same ingest path through the OTLP/JSON translation.
    json("/api/v1/otlp/v1/metrics") { req =>
      import boundSrc.df.sparkSession.implicits._
      val parsed = graft.sources.Otlp.parse(Seq(new String(req.body, "UTF-8")).toDF("json"))
      appendIngest(shapeIngest(parsed, "attrs"))
      """{"status":"success","data":null}"""
    }
    // REMOTE-READ (POST /api/v1/read, `prometheus.ReadRequest`): the
    // server half of remote_read — raw SAMPLED series for each query's
    // matchers × ms range (the wire a federating Prometheus or Thanos
    // sidecar pulls long-term samples over; wire stand-in rule in
    // [[RemoteRead]]'s doc). The data path is the same tombstone-masked,
    // ingest-unioned `src` serving /api/v1/query: matchers render to a
    // selector, compile through selectorCond (pushdown-eligible), and
    // the collect rides the usual maxResultRows cap.
    route("/api/v1/read") { req =>
      // Real wire first (a federating Prometheus sends snappy'd
      // ReadRequest protobuf and expects snappy'd ReadResponse protobuf
      // back); the JSON mapping stays for hand-written bodies.
      val raw = req.unsnappied
      val isJson = raw.nonEmpty && raw(0) == '{'
      val sKey = boundSrc.seriesKey.map(PromQlParser.labelCol)
      val value = col(boundSrc.valueCol).cast("double")
      // one query's matched samples in its ms range, shaped, capped
      def collectRead(q: RemoteRead.ReadQuery)(
          shape: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Array[Row] = {
        val s0 = src
        val cond = PromQlParser.selectorCond(
          s0, RemoteRead.selectorString(q.matchers))
        val inRange = s0.df.filter(cond)
          .withColumn("__ts_ms", expr(s"unix_millis(${s0.tsCol})"))
          .filter(col("__ts_ms") >= q.startMs && col("__ts_ms") <= q.endMs)
        MetricsServer.collectCapped(shape(inRange), maxResultRows).rows
      }
      def collectSamples(q: RemoteRead.ReadQuery): Array[Row] =
        collectRead(q) {
          _.select(sKey :+ col("__ts_ms") :+ value.as("__v"): _*)
            .orderBy(sKey :+ col("__ts_ms"): _*)
        }
      // series cut into ≤120-sample XOR chunks IN SPARK (keyed window +
      // collect_list + XorChunkEncode), so the driver only holds encoded
      // chunk rows — ~10 bytes/sample — and chunking parallelizes across
      // executors; shared by both streamed faces.
      def collectChunkRows(q: RemoteRead.ReadQuery): Array[Row] =
        collectRead(q) { df =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(sKey: _*).orderBy(col("__ts_ms"), col("__b"))
          df.withColumn("__b", graft.functions.VectorFunctions.doubleBits(value))
            .withColumn("__seq", (row_number().over(w) - 1).cast("long"))
            .withColumn("__chunk", expr("__seq div 120"))
            .groupBy(sKey :+ col("__chunk"): _*)
            .agg(min(col("__ts_ms")).as("__min_t"),
              max(col("__ts_ms")).as("__max_t"),
              graft.functions.XorChunk.encodeCol(sort_array(collect_list(
                struct(col("__ts_ms").as("t"), col("__b").as("b")))))
                .as("__data"))
            .orderBy(sKey :+ col("__chunk"): _*)
        }
      val chunkedType = "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse"
      if (!isJson) {
        // protobuf face — the REAL wire both ways: SAMPLES as snappy'd
        // ReadResponse, STREAMED_XOR_CHUNKS as chunked-transport frames
        // (uvarint len · BE CRC32C · ChunkedReadResponse pb, upstream
        // chunked.go; not snappy'd — chunk data is already compressed).
        // Absent end (proto3 zero) reads open-ended.
        import graft.functions.ProtoWire
        val rr = ProtoWire.decodeReadRequest(raw)
        val streamed = rr.acceptedTypes.find(t => t == 0 || t == 1)
          .contains(1)
        val queries = rr.queries.map { q =>
          RemoteRead.ReadQuery(q.startMs,
            if (q.endMs == 0L) Long.MaxValue else q.endMs,
            q.matchers.map { m =>
              val op = m.mtype match {
                case 0 => "="
                case 1 => "!="
                case 2 => "=~"
                case 3 => "!~"
                case other => throw new IllegalArgumentException(
                  s"unknown matcher type: $other")
              }
              (m.name, op, m.value)
            })
        }
        if (!streamed) {
          val results = queries.map(collectSamples)
          val body = graft.functions.Snappy.compress(
            MetricsServer.remoteReadPb(results, boundSrc.metricCol,
              boundSrc.seriesKey))
          Reply(200, "application/x-protobuf", body, Some("snappy"))
        } else {
          val msgs = queries.zipWithIndex.flatMap { case (q, qi) =>
            MetricsServer.chunkedReadPb(collectChunkRows(q),
              boundSrc.metricCol, boundSrc.seriesKey, qi)
          }
          Reply(200, chunkedType, ProtoWire.frameMessages(msgs))
        }
      } else {
        val body = new String(raw, "UTF-8")
        // Response-type negotiation (storage/remote
        // NegotiateResponseType): first accepted type the server
        // supports wins; empty → SAMPLES.
        val streamed = RemoteRead.acceptedTypes(body)
          .find(t => t == "STREAMED_XOR_CHUNKS" || t == "SAMPLES")
          .contains("STREAMED_XOR_CHUNKS")
        val queries = RemoteRead.parseRequest(body)
        if (!streamed) {
          val results = queries.map(collectSamples)
          Reply.json(MetricsServer.remoteReadJson(results, boundSrc.metricCol,
            boundSrc.seriesKey))
        } else {
        // STREAMED_XOR_CHUNKS over the JSON mapping (hand-written
        // bodies): one JSON line per series frame, chunk data = the REAL
        // XOR chunk bytes base64'd. The real framed-protobuf face lives
        // on the pb branch above.
        val frames = queries.zipWithIndex.flatMap { case (q, qi) =>
          MetricsServer.chunkedReadFrames(collectChunkRows(q),
            boundSrc.metricCol, boundSrc.seriesKey, qi)
        }
        Reply(200, chunkedType, frames.mkString("", "\n", "\n"))
        }
      }
    }
    // one tombstone per match[] selector: upstream deletes every
    // selected series
    json("/api/v1/admin/tsdb/delete_series") { req =>
      val sels = req.needAll("match[]")
      val mint = req.get("start").map(t =>
        MetricsServer.epochSec(MetricsServer.parseTime(t)) * 1000L)
        .getOrElse(Long.MinValue)
      val maxt = req.get("end").map(t =>
        MetricsServer.epochSec(MetricsServer.parseTime(t)) * 1000L)
        .getOrElse(Long.MaxValue)
      val ts = sels.map(sel => Tombstones.Tombstone(
        PromQlParser.selectorMatchers(boundSrc, sel), mint, maxt))
      synchronized { state = state.copy(tombstones = state.tombstones ++ ts) }
      """{"status":"success","data":null}"""
    }
    json("/api/v1/admin/tsdb/clean_tombstones") { _ =>
      // the fold takes the masked ingest in too, so the rows go with it
      synchronized {
        if (state.tombstones.nonEmpty)
          state = MetricsServer.Serving(Some(src.df), Vector.empty, None, Nil)
      }
      """{"status":"success","data":null}"""
    }
    // Snapshot (upstream api/v1/admin/tsdb/snapshot): persist the current
    // tombstone-masked view as parquet and return the snapshot name. The
    // write path is the Hadoop FS API, so the base can be hdfs://s3a://.
    json("/api/v1/admin/tsdb/snapshot") { _ =>
      val name = "graft-snap-" + java.lang.Long.toHexString(System.nanoTime())
      val base = new java.io.File(sys.props("java.io.tmpdir"), "graft-snapshots")
      val dir = new java.io.File(base, name)
      src.df.write.mode("error").parquet(dir.getAbsolutePath)
      s"""{"status":"success","data":{"name":"${MetricsServer.jsonEscape(name)}","dir":"${MetricsServer.jsonEscape(dir.getAbsolutePath)}"}}"""
    }
    // The instant and range endpoints' one capped collect. stats=all
    // (upstream query stats) splices data.stats inside the data object,
    // read from the EXECUTED plan's own SQLMetrics — no second pass.
    def evalJson(req: Request, df: org.apache.spark.sql.DataFrame)(
        render: Array[Row] => String): String = {
      val capped = MetricsServer.collectCapped(df, maxResultRows)
      val body = render(capped.rows)
      if (!req.get("stats").contains("all")) body
      else body.patch(body.length - 2,
        MetricsServer.statsJson(capped.frame.queryExecution.executedPlan,
          capped.evalSec) + "}", 1)
    }
    json("/api/v1/query") { req =>
      val query = req.need("query")
      val t = MetricsServer.parseTime(req.need("time"))
      evalJson(req, PromQlParser.eval(src, query, t)) { rows =>
        if (PromQlParser.isScalarQuery(query))
          MetricsServer.scalarJson(rows.head.getAs[Double]("value"),
            MetricsServer.epochSec(t))
        else MetricsServer.vectorJson(rows, MetricsServer.epochSec(t))
      }
    }
    json("/api/v1/query_range") { req =>
      val start = MetricsServer.parseTime(req.need("start"))
      val end = MetricsServer.parseTime(req.need("end"))
      val step = MetricsServer.parseDurationSec(req.need("step"))
      evalJson(req, PromQlParser.evalRange(src, req.need("query"), start, end, step))(
        MetricsServer.matrixJson)
    }
    json("/api/v1/labels") { req =>
      // the data model's label set is the source's series-key columns;
      // `limit` caps the list (upstream: 0/absent = unlimited)
      val names = MetricsServer.applyLimit(
        (src.seriesKey :+ "__name__").distinct.sorted, req)
      s"""{"status":"success","data":[${names.map(n => "\"" + n + "\"").mkString(",")}]}"""
    }
    json("/api/v1/label/") { req =>
      // /api/v1/label/<name>/values
      val name = req.path.stripPrefix("/api/v1/label/").stripSuffix("/values")
      val colName = if (name == "__name__") src.metricCol else name
      require(src.seriesKey.contains(colName) || colName == src.metricCol,
        s"unknown label: $name")
      val distinctVals = src.df.select(col(colName).cast("string").as("v"))
        .filter(col("v").isNotNull) // a NULL label value is "unset", not a value
        .distinct().orderBy(col("v"))
      // Push `limit` into the PLAN (upstream truncates to the limit): a
      // label whose distinct count exceeds maxResultRows must still serve
      // a small-limit request instead of throwing ResultTooLarge.
      val capped = req.get("limit").map(_.toInt).filter(_ > 0)
        .map(distinctVals.limit).getOrElse(distinctVals)
      val rows = MetricsServer.collectCapped(capped, maxResultRows).rows
      val vals = MetricsServer.applyLimit(
        rows.toSeq.map(r => "\"" + MetricsServer.jsonEscape(r.getString(0)) + "\""),
        req)
      s"""{"status":"success","data":[${vals.mkString(",")}]}"""
    }
    json("/api/v1/series") { req =>
      val rows = MetricsServer.collectCapped(
        PromQlParser.seriesFor(src, req.needAll("match[]")), maxResultRows).rows
      val labels = rows.headOption.toSeq
        .flatMap(_.schema.fields.zipWithIndex.map { case (f, i) => (f.name, i) })
      val items = rows.map { r =>
        labels.map { case (n, i) =>
          s""""${MetricsServer.jsonEscape(n)}":"${MetricsServer.jsonEscape(String.valueOf(r.get(i)))}""""
        }.mkString("{", ",", "}")
      }
      s"""{"status":"success","data":[${items.mkString(",")}]}"""
    }
    // GET /api/v1/status/tsdb — the cardinality-stats face (upstream
    // api/v1/status/tsdb): top-10 series counts by metric name, label
    // value counts by label name, and series counts by label=value pair.
    // Three keyed distinct-aggregations over the bound source (each a
    // map-side partial at any corpus size); output is top-10-sized.
    json("/api/v1/status/tsdb") { _ =>
      def items(rows: Array[Row]) = rows.map(r =>
        s"""{"name":"${MetricsServer.jsonEscape(r.getString(0))}","value":${r.getLong(1)}}""")
        .mkString("[", ",", "]")
      val nSeries = org.apache.spark.sql.functions.countDistinct(
        col(src.seriesKey.head), src.seriesKey.tail.map(col): _*).as("v")
      val byMetric = MetricsServer.collectCapped(
        src.df.groupBy(col(src.metricCol).cast("string").as("n"))
          .agg(nSeries)
          .orderBy(col("v").desc, col("n")).limit(10), 10).rows
      val byLabel = src.seriesKey.map { l =>
        val c = src.df.select(col(l).cast("string").as("v"))
          .filter(col("v").isNotNull).distinct().count()
        (l, c)
      }.sortBy { case (l, c) => (-c, l) }.take(10).map { case (l, c) =>
        s"""{"name":"${MetricsServer.jsonEscape(l)}","value":$c}"""
      }.mkString("[", ",", "]")
      val byPair = MetricsServer.collectCapped(
        src.df.select(org.apache.spark.sql.functions.concat(
            lit(src.metricCol + "="), col(src.metricCol).cast("string")).as("n") +:
            src.seriesKey.map(PromQlParser.labelCol): _*)
          .groupBy(col("n"))
          .agg(nSeries)
          .orderBy(col("v").desc, col("n")).limit(10), 10).rows
      s"""{"status":"success","data":{"seriesCountByMetricName":${items(byMetric)},""" +
        s""""labelValueCountByLabelName":$byLabel,""" +
        s""""seriesCountByLabelValuePair":${items(byPair)}}}"""
    }
    // GET /federate?match[]=sel&match[]=sel2&time=... — the federation
    // scrape face (prometheus/web/federate.go): for every series matching
    // ANY match[] selector, the newest sample within the 5m staleness
    // window, as exposition text with the ORIGINAL sample timestamp (ms).
    // Engine convention: `time` is explicit (no background "now"). Errors
    // answer in text, as federation's content type is. ONE keyed max_by
    // per request (map-side partial; series-sized output under the
    // standard cap), never a sample-sized collect. External labels are
    // added only where the series doesn't already carry the label (the
    // upstream honor-labels federation rule).
    route("/federate", MetricsServer.textError) { req =>
      val matches = req.all("match[]")
      require(matches.nonEmpty, "missing 'match[]' parameter")
      val t = MetricsServer.parseTime(req.need("time"))
      Reply(200, MetricsServer.Exposition, MetricsServer.federateText(src,
        matches, t, externalLabels, maxResultRows))
    }
    exemplarFrame.foreach { ef =>
      // /api/v1/query_exemplars — the OpenMetrics exemplar face: series
      // selector + [start, end] over a per-bucket newest-exemplar frame.
      // Serves BOTH bucket families: the native shape
      // (NativeHistogram.exemplars: series labels…, sign, idx, exemplar)
      // and the classic le-bucket shape
      // (MetricRegistry.histogramExemplars: series labels…, le,
      // exemplar) — bucket columns are never series labels upstream, so
      // all three are excluded from the series identity. The frame is
      // |series|·|buckets|-sized by construction, the filter is
      // selector + time-range pushdown, and the collect rides the same
      // hard cap as every query endpoint.
      json("/api/v1/query_exemplars") { req =>
        val startT = MetricsServer.parseTime(req.need("start"))
        val endT = MetricsServer.parseTime(req.need("end"))
        val labelCols = ef.columns.filterNot(Set("sign", "idx", "le", "exemplar")).toSeq
        val rows = MetricsServer.collectCapped(
          ef.filter(PromQlParser.selectorCond(src, req.need("query")))
            .filter(col("exemplar.ts") >= to_timestamp(lit(startT)) &&
                    col("exemplar.ts") <= to_timestamp(lit(endT)))
            .orderBy(labelCols.map(col) :+ col("exemplar.ts"): _*),
          maxResultRows).rows
        MetricsServer.exemplarsJson(rows, labelCols, src.metricCol)
      }
    }
    if (rules.nonEmpty) {
      // /api/v1/alerts and /api/v1/rules — the rule-group face of the API.
      // Unlike Prometheus these take an explicit `time` (the engine has no
      // background evaluation loop; state is computed on demand): firing
      // iff the alert has been continuously active for the trailing `for`
      // window ending at `time`, which a grid of ceil(for/step)+1 steps
      // decides exactly — longer history cannot change the answer.
      json("/api/v1/alerts") { req =>
        val t = MetricsServer.parseTime(req.need("time"))
        val step = MetricsServer.parseDurationSec(req.get("step").getOrElse("60"))
        val alerts = rules.flatMap(r =>
          MetricsServer.alertsAt(src, r, t, step, maxResultRows).map(_._1))
        s"""{"status":"success","data":{"alerts":[${alerts.mkString(",")}]}}"""
      }
      json("/api/v1/rules") { req =>
        val t = MetricsServer.parseTime(req.need("time"))
        val step = MetricsServer.parseDurationSec(req.get("step").getOrElse("60"))
        val rjs = rules.map { r =>
          val alerts = MetricsServer.alertsAt(src, r, t, step, maxResultRows)
          val state =
            if (alerts.exists(_._2 == "firing")) "firing"
            else if (alerts.nonEmpty) "pending"
            else "inactive"
          s"""{"name":"${MetricsServer.jsonEscape(r.alertname)}"""" +
            s""","query":"${MetricsServer.jsonEscape(r.expr)}"""" +
            s""","duration":${r.forSec},"keepFiringFor":${r.keepFiringSec}""" +
            s""","type":"alerting","state":"$state"""" +
            s""","alerts":[${alerts.map(_._1).mkString(",")}]}"""
        }
        s"""{"status":"success","data":{"groups":[{"name":"graft",""" +
          s""""rules":[${rjs.mkString(",")}]}]}}"""
      }
    }
  }
  // A small pool, not the listener thread: the query/metadata endpoints
  // run full Spark jobs, and head-of-line blocking there would make a
  // slow query_range drop concurrent /metrics scrapes.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => {
      val t = new Thread(r, "graft-metrics-server"); t.setDaemon(true); t
    })
  server.setExecutor(pool)
  server.start()

  def boundPort: Int = server.getAddress.getPort

  override def close(): Unit = { server.stop(0); pool.shutdownNow(): Unit }
}

object MetricsServer {

  /** One snapshot of a server's serving state: the cleaned fold of the
    * bound frame (None = the bound frame itself), every accepted ingest
    * row and their one local relation, and the pending tombstones. */
  private final case class Serving(
      stored: Option[org.apache.spark.sql.DataFrame],
      rows: Vector[Row],
      ingested: Option[org.apache.spark.sql.DataFrame],
      tombstones: Seq[Tombstones.Tombstone])

  /** An over-limit query result (→ HTTP 422, Prometheus's execution-error
    * class): the server refuses to materialize it rather than buffering an
    * unbounded series set on the driver. */
  final class ResultTooLarge(val max: Int) extends RuntimeException(
    s"query result exceeds $max rows; narrow the selector or raise maxResultRows")

  /** One request as every endpoint sees it: path, method, headers, the
    * body read once, and the parameters — the URL query, then the body of
    * a form POST (upstream api.go reads r.Form, which merges both; Grafana
    * POSTs long queries this way). Keys are percent-decoded too:
    * spec-conformant clients send match%5B%5D= for match[]=. */
  private[metrics] final class Request(ex: HttpExchange) {
    val path: String = ex.getRequestURI.getPath
    val method: String = ex.getRequestMethod
    val body: Array[Byte] = ex.getRequestBody.readAllBytes()
    def header(name: String): Option[String] =
      Option(ex.getRequestHeaders.getFirst(name))
    // Lazy: a wire receiver's body is never form-decoded, even when the
    // client labels it form-urlencoded (HttpURLConnection's POST default).
    lazy val params: Seq[(String, String)] = {
      def form(s: String) = s.split("&").filter(_.nonEmpty).toSeq.map { kv =>
        val eq = kv.indexOf('=')
        val k = java.net.URLDecoder
          .decode(if (eq < 0) kv else kv.substring(0, eq), "UTF-8")
        val v = if (eq < 0) "" else java.net.URLDecoder
          .decode(kv.substring(eq + 1), "UTF-8")
        k -> v
      }
      form(Option(ex.getRequestURI.getRawQuery).getOrElse("")) ++
        (if (method == "POST" && header("Content-Type")
              .exists(_.startsWith("application/x-www-form-urlencoded")))
          form(new String(body, "UTF-8"))
        else Nil)
    }
    /** Every value of a repeated key (`match[]`), URL values first. */
    def all(key: String): Seq[String] = params.collect { case (`key`, v) => v }
    def needAll(key: String): Seq[String] = {
      val vs = all(key)
      if (vs.isEmpty) throw new IllegalArgumentException(s"missing '$key' parameter")
      vs
    }
    /** A single-valued key: its last value, so a body value wins over a
      * URL value, as ParseForm's ordering does. */
    def get(key: String): Option[String] = all(key).lastOption
    def need(key: String): String = needAll(key).last
    /** The body, snappy-decoded when Content-Encoding says so (the
      * remote-write and remote-read wire). */
    def unsnappied: Array[Byte] =
      if (header("Content-Encoding").exists(_.equalsIgnoreCase("snappy")))
        graft.functions.Snappy.decompress(body)
      else body
  }

  /** One reply: status, Content-Type, optional Content-Encoding, body. */
  private[metrics] final case class Reply(code: Int, contentType: String,
      body: Array[Byte], encoding: Option[String] = None)
  private[metrics] object Reply {
    def apply(code: Int, contentType: String, body: String): Reply =
      Reply(code, contentType, body.getBytes("UTF-8"))
    def json(body: String, code: Int = 200): Reply =
      Reply(code, "application/json", body)
  }

  /** Exposition format 0.0.4, the `/metrics` and `/federate` body. */
  private val Exposition = "text/plain; version=0.0.4; charset=utf-8"

  /** The Prometheus API's JSON error envelope. */
  private def jsonError(code: Int, errorType: String, msg: String): Reply =
    Reply.json(s"""{"status":"error","errorType":"$errorType","error":"${jsonEscape(msg)}"}""",
      code)

  /** A plain-text error body (the `/federate` face). */
  private def textError(code: Int, errorType: String, msg: String): Reply =
    Reply(code, "text/plain; charset=utf-8", msg + "\n")

  /** The one request path: parse the request, run the endpoint, map its
    * error — [[ResultTooLarge]] → 422 `too_many_results`, anything else →
    * 400 `bad_data`, bodied by `errorReply` — and write the reply: its
    * headers, `sendResponseHeaders(code, length)`, one write of the body. */
  private def handler(f: Request => Reply,
                      errorReply: (Int, String, String) => Reply): HttpHandler = ex => {
    val reply =
      try f(new Request(ex))
      catch {
        case e: ResultTooLarge =>
          errorReply(422, "too_many_results", String.valueOf(e.getMessage))
        case e: Throwable => errorReply(400, "bad_data", String.valueOf(e.getMessage))
      }
    ex.getResponseHeaders.set("Content-Type", reply.contentType)
    reply.encoding.foreach(ex.getResponseHeaders.set("Content-Encoding", _))
    ex.sendResponseHeaders(reply.code, reply.body.length.toLong)
    val os = ex.getResponseBody
    try os.write(reply.body) finally os.close()
  }

  /** Upstream `limit` parameter: 0 or absent = unlimited. */
  private[metrics] def applyLimit[A](xs: Seq[A], req: Request): Seq[A] =
    req.get("limit").map(_.toInt).filter(_ > 0).map(xs.take).getOrElse(xs)

  /** A physical plan's children, AQE-unwrapped: the adaptive node and
    * its query stages hide the real operators as inner plans, not
    * children. */
  private[metrics] def planKids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec        => Seq(q.plan)
    case other                    => other.children
  }

  /** The `stats=all` payload from an EXECUTED plan's own SQLMetrics —
    * totalQueryableSamples = rows leaving the scans, peakSamples = the
    * widest operator. */
  private[metrics] def statsJson(plan: SparkPlan, evalSec: Double): String = {
    def outRows(p: SparkPlan): Seq[Long] =
      p.metrics.get("numOutputRows").map(_.value).toSeq ++
        planKids(p).flatMap(outRows) ++ p.subqueries.flatMap(outRows)
    def scanRows(p: SparkPlan): Seq[Long] =
      if (planKids(p).isEmpty) p.metrics.get("numOutputRows").map(_.value).toSeq
      else planKids(p).flatMap(scanRows) ++ p.subqueries.flatMap(scanRows)
    s""","stats":{"timings":{"evalTotalTime":$evalSec},""" +
      s""""samples":{"totalQueryableSamples":${scanRows(plan).sum},""" +
      s""""peakSamples":${(outRows(plan) :+ 0L).max}}}"""
  }

  /** A capped collect's rows, with the capped frame (its executed plan)
    * and the collect's wall seconds that `stats=all` reads ([[statsJson]]). */
  private[metrics] final case class Capped(rows: Array[Row],
                                           frame: org.apache.spark.sql.DataFrame,
                                           evalSec: Double)

  /** `limit(max+1)` then collect: the executor-side plan ships at most
    * max+1 rows regardless of result cardinality; the +1 row distinguishes
    * "exactly max" from "over the cap". */
  private[metrics] def collectCapped(df: org.apache.spark.sql.DataFrame,
                                     max: Int): Capped = {
    val limited = df.limit(max + 1)
    val t0 = System.nanoTime()
    val rows = limited.collect()
    val evalSec = (System.nanoTime() - t0) / 1e9
    if (rows.length > max) throw new ResultTooLarge(max)
    Capped(rows, limited, evalSec)
  }

  /** One rule's alert instances at instant `t`: evaluate the for-duration
    * state machine on a trailing grid of exactly ceil(for/step)+1 steps
    * (sufficient: firing at `t` depends only on the trailing `for`
    * window) and keep the rows AT `t`. Returns (alert JSON, state). */
  private[metrics] def alertsAt(src: PromQlParser.PromSource,
                                rule: AlertRules.Rule, t: String,
                                stepSec: Long,
                                max: Int): Seq[(String, String)] = {
    val forSteps = (rule.forSec + stepSec - 1) / stepSec
    val start = java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      .minusSeconds(forSteps * stepSec)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val df = AlertRules.evalRule(src, rule, start, t, stepSec)
    val rows = collectCapped(
      df.filter(col("step_ts") === org.apache.spark.sql.functions.lit(
        java.sql.Timestamp.valueOf(t))), max).rows
    val fields = rows.headOption.toSeq
      .flatMap(_.schema.fields.zipWithIndex)
    val labelIdx = fields.collect {
      case (f, i) if !Set("step_ts", "value", "alertstate")(f.name) => (f.name, i)
    }
    val stateIdx = fields.collectFirst { case (f, i) if f.name == "alertstate" => i }
    val valueIdx = fields.collectFirst { case (f, i) if f.name == "value" => i }
    rows.toSeq.map { r =>
      val state = r.getString(stateIdx.get)
      val labels = labelIdx.filter { case (_, i) => !r.isNullAt(i) }
        .map { case (n, i) =>
          s""""${jsonEscape(n)}":"${jsonEscape(String.valueOf(r.get(i)))}""""
        }
      (s"""{"labels":{${labels.mkString(",")}},"state":"$state"""" +
        s""","value":"${r.get(valueIdx.get)}"}""", state)
    }
  }

  private def sanitize(s: String): String =
    s.map(c => if (c.isLetterOrDigit || c == '_') c else '_')

  /** Render observation rows as exposition text: each observation name is a
    * family prefix; every numeric field becomes one gauge sample
    * `graft_<obs>_<field> <value>`. Non-numeric fields are skipped (they
    * have no sample representation; Info-style payloads belong in labels).
    * Families sort by name so scrapes are byte-stable for equal state. */
  def render(snapshot: Map[String, Row]): String = {
    val sb = new StringBuilder
    snapshot.toSeq.sortBy(_._1).foreach { case (obsName, row) =>
      val fam = s"graft_${sanitize(obsName)}"
      sb.append(s"# HELP $fam observation '$obsName' from a graft plan\n")
      sb.append(s"# TYPE $fam gauge\n")
      row.schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!row.isNullAt(i)) {
          val v: Option[Double] = row.get(i) match {
            case n: java.lang.Number => Some(n.doubleValue())
            case _ => None
          }
          v.foreach(d => sb.append(s"${fam}_${sanitize(f.name)} $d\n"))
        }
      }
    }
    sb.toString
  }

  // ---------- Prometheus HTTP API v1 plumbing ----------

  private val UnixTime = """-?[0-9]+(\.[0-9]*)?""".r
  private val Rfc3339 = """.+T.+(Z|[+-][0-9]{2}:[0-9]{2})""".r

  /** Accepts Prometheus's `<rfc3339 | unix_timestamp>` — unix seconds,
    * fractional too (`1704067200.5`), and RFC3339 with `Z` or a numeric
    * offset (`2024-01-01T02:00:00+02:00`) — or the engine's plain
    * `yyyy-MM-dd HH:mm:ss`; returns the plain UTC form the compilers
    * consume (session timezone is UTC). Sub-second parts floor to the
    * second: the grid is second-grained. */
  private[metrics] def parseTime(s: String): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val utc = java.time.ZoneOffset.UTC
    s match {
      case UnixTime(_) =>
        val sec = BigDecimal(s).setScale(0, BigDecimal.RoundingMode.FLOOR).toLongExact
        java.time.LocalDateTime.ofEpochSecond(sec, 0, utc).format(fmt)
      case Rfc3339(_) =>
        java.time.OffsetDateTime.parse(s).atZoneSameInstant(utc).format(fmt)
      case _ => s
    }
  }

  /** Prometheus step syntax: bare (fractional) seconds or a compound
    * duration (`5m`, `1h30m`, `90s`); returns whole seconds. Sub-second
    * steps (`500ms`) are rejected explicitly — the grid is second-grained. */
  private[metrics] def parseDurationSec(s: String): Long =
    if (s.nonEmpty && s.exists(_.isLetter)) {
      val seg = "([0-9]+)(ms|s|m|h|d|w)".r
      val parsed = seg.findAllMatchIn(s).map { m =>
        val n = m.group(1).toLong
        m.group(2) match {
          case "ms" => throw new IllegalArgumentException(
            s"sub-second step not supported: $s")
          case "s" => n; case "m" => n * 60L; case "h" => n * 3600L
          case "d" => n * 86400L; case "w" => n * 604800L
        }
      }.toSeq
      require(parsed.nonEmpty && seg.replaceAllIn(s, "").isEmpty,
        s"bad duration: $s")
      parsed.sum
    } else {
      // bare seconds: reject a fractional value rather than silently
      // truncating it ("1.5" is a resolution the grid can't honor —
      // the same refusal the explicit "500ms" branch gives)
      val d = s.toDouble
      require(d == d.toLong.toDouble,
        s"sub-second step not supported: $s")
      d.toLong
    }

  private[metrics] def epochSec(plainTs: String): Long =
    java.time.LocalDateTime.parse(plainTs.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC)

  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Exposition-format label-value escaping: backslash, quote, newline. */
  private[metrics] def promEscape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case c => c.toString
  }

  private val legacyName = "[a-zA-Z_:][a-zA-Z0-9_:]*".r

  /** The `/federate` body: for every series matching ANY selector, the
    * newest sample in the trailing 5m staleness window (upstream
    * LookbackDelta) at `t`, rendered as exposition text with the original
    * sample timestamp in MILLISECONDS — the federation contract
    * (prometheus/web/federate.go). Families sort by metric name, series
    * by label set; `# TYPE <name> untyped` heads each legacy-charset
    * family (a UTF-8 name has no 0.0.4 TYPE line and renders in the
    * quoted `{"name",...}` form). External labels fill in only where the
    * series doesn't already carry the label. One keyed max_by, map-side
    * partial; the collect is series-sized under the standard cap. */
  def federateText(src: PromQlParser.PromSource,
                                    matches: Seq[String], t: String,
                                    external: Seq[(String, String)],
                                    max: Int): String = {
    val cond = matches.map(m => PromQlParser.selectorCond(src, m)).reduce(_ || _)
    val te = to_timestamp(lit(t))
    val labelCols = src.seriesKey.filterNot(_ == src.metricCol)
    val newest = src.df.filter(cond)
      .filter(col(src.tsCol) <= te &&
        col(src.tsCol) > te - expr("INTERVAL 5 MINUTES"))
      .groupBy(src.seriesKey.map(PromQlParser.labelCol): _*)
      .agg(max_by(struct(col(src.valueCol).as("v"), col(src.tsCol).as("sts")),
        struct(col(src.tsCol), col(src.orderCol))).as("s"))
      .select(src.seriesKey.map(PromQlParser.labelCol) :+ col("s.v").as("__fv") :+
        col("s.sts").as("__fts"): _*)
    val rows = collectCapped(newest, max).rows
    val sb = new StringBuilder
    rows.toSeq
      .map { r =>
        val name = String.valueOf(r.getAs[Any](src.metricCol))
        val own = labelCols.flatMap { c =>
          Option(r.getAs[Any](c)).map(v => c -> String.valueOf(v))
        }
        val ext = external.filterNot { case (k, _) => own.exists(_._1 == k) }
        (name, (own ++ ext).sortBy(_._1),
          r.getAs[Double]("__fv"), r.getAs[java.sql.Timestamp]("__fts").getTime)
      }
      .sortBy { case (name, labels, _, _) => (name, labels.mkString("\u0000")) }
      .foldLeft(Option.empty[String]) { case (prev, (name, labels, v, tsMs)) =>
        val legacy = legacyName.pattern.matcher(name).matches()
        if (!prev.contains(name) && legacy)
          sb.append(s"# TYPE $name untyped\n")
        val lbl = labels.map { case (k, value) =>
          s"""$k="${promEscape(value)}""""
        }
        val head =
          if (legacy) if (lbl.isEmpty) name else s"$name{${lbl.mkString(",")}}"
          else s"""{"${promEscape(name)}"${lbl.map("," + _).mkString}}"""
        sb.append(s"$head ${fmtVal(v)} $tsMs\n")
        Some(name)
      }
    sb.result()
  }

  /** Remote-read rows, sorted by (seriesKey, …), grouped per series in
    * arrival order; each series keyed by its label pairs, the metric
    * column named `__name__`. Shared by all four remote-read faces. */
  private def bySeries(rows: Array[Row], metricCol: String,
                       seriesKey: Seq[String]): Seq[(Seq[(String, String)], Seq[Row])] = {
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[Seq[(String, String)], scala.collection.mutable.ArrayBuffer[Row]]
    rows.foreach { r =>
      val ls = seriesKey.map { k =>
        (if (k == metricCol) "__name__" else k) ->
          String.valueOf(r.getAs[Any](k))
      }
      grouped.getOrElseUpdate(ls,
        scala.collection.mutable.ArrayBuffer.empty) += r
    }
    grouped.toSeq.map { case (ls, rs) => (ls, rs.toSeq) }
  }

  /** A series' label pairs in protobuf-JSON `Label` form. */
  private def labelPairsJson(ls: Seq[(String, String)]): String =
    ls.map { case (n, v) =>
      s"""{"name":"${jsonEscape(n)}","value":"${jsonEscape(v)}"}"""
    }.mkString("[", ",", "]")

  /** protobuf-JSON `ReadResponse`: one result per request query, each a
    * list of timeseries with full label pair sets and ms samples. Rows
    * arrive sorted by (seriesKey, ts); grouping preserves that order.
    * Sample values are JSON numbers (the protobuf JSON double mapping);
    * non-finite values quote as strings, as protobuf JSON specifies. */
  private[metrics] def remoteReadJson(results: Seq[Array[Row]],
      metricCol: String, seriesKey: Seq[String]): String = {
    def sampleVal(d: Double): String =
      if (d.isNaN || d.isInfinite) "\"" + fmtVal(d) + "\"" else fmtVal(d)
    def seriesJson(rows: Array[Row]): String =
      bySeries(rows, metricCol, seriesKey).map { case (ls, rs) =>
        val samples = rs.map { r =>
          s"""{"value":${sampleVal(r.getAs[Double]("__v"))},""" +
            s""""timestamp":${r.getAs[Long]("__ts_ms")}}"""
        }.mkString("[", ",", "]")
        s"""{"labels":${labelPairsJson(ls)},"samples":$samples}"""
      }.mkString("[", ",", "]")
    s"""{"results":[${results.map(rs =>
      s"""{"timeseries":${seriesJson(rs)}}""").mkString(",")}]}"""
  }

  /** [[remoteReadJson]]'s real-bytes twin: the same series grouping
    * rendered as a `prometheus.ReadResponse` protobuf message
    * ([[graft.functions.ProtoWire]]) — what an actual federating
    * Prometheus expects back (snappy framing applied by the handler). */
  private[metrics] def remoteReadPb(results: Seq[Array[Row]],
      metricCol: String, seriesKey: Seq[String]): Array[Byte] = {
    import graft.functions.ProtoWire
    def seriesOf(rows: Array[Row]): Seq[ProtoWire.Series] =
      bySeries(rows, metricCol, seriesKey).map { case (ls, rs) =>
        ProtoWire.Series(
          ls.map { case (n, v) => ProtoWire.Label(n, v) },
          rs.map(r => ProtoWire.Sample(
            r.getAs[Double]("__v"), r.getAs[Long]("__ts_ms"))))
      }
    ProtoWire.encodeReadResponse(results.map(seriesOf))
  }

  /** RFC3339 UTC instant for status payloads. */
  private[metrics] def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  /** Prometheus sample-value formatting: a plain decimal string. */
  private def fmtVal(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "+Inf"
    else if (d == Double.NegativeInfinity) "-Inf"
    else d.toString

  private def metricJson(row: Row, labelIdx: Seq[(String, Int)]): String =
    labelIdx.map { case (name, i) =>
      s""""${jsonEscape(name)}":"${jsonEscape(String.valueOf(row.get(i)))}""""
    }.mkString("{", ",", "}")

  private def labelIndexes(rows: Array[Row]): Seq[(String, Int)] =
    if (rows.isEmpty) Seq.empty
    else rows.head.schema.fields.zipWithIndex.toSeq
      .collect { case (f, i) if f.name != "value" && f.name != "step_ts" => (f.name, i) }

  /** `resultType: scalar` payload — a pure-scalar instant query. */
  private[metrics] def scalarJson(v: Double, ts: Long): String =
    s"""{"status":"success","data":{"resultType":"scalar","result":[$ts,"${fmtVal(v)}"]}}"""

  /** `resultType: vector` payload for an instant query result. */
  private[metrics] def vectorJson(rows: Array[Row], ts: Long): String = {
    val labels = labelIndexes(rows)
    val items = rows.map { r =>
      val v = r.getAs[Double]("value")
      s"""{"metric":${metricJson(r, labels)},"value":[$ts,"${fmtVal(v)}"]}"""
    }
    s"""{"status":"success","data":{"resultType":"vector","result":[${items.mkString(",")}]}}"""
  }

  /** `resultType: matrix` payload for a query_range result: rows grouped
    * per series (label set), values sorted by step. */
  private[metrics] def matrixJson(rows: Array[Row]): String = {
    val labels = labelIndexes(rows)
    val series = rows.groupBy(r => labels.map { case (_, i) => String.valueOf(r.get(i)) })
      .toSeq.sortBy(_._1.mkString("\u0000"))
    val items = series.map { case (_, rs) =>
      val vals = rs.sortBy(_.getAs[java.sql.Timestamp]("step_ts").getTime)
        .map { r =>
          val t = r.getAs[java.sql.Timestamp]("step_ts").getTime / 1000
          s"""[$t,"${fmtVal(r.getAs[Double]("value"))}"]"""
        }
      s"""{"metric":${metricJson(rs.head, labels)},"values":[${vals.mkString(",")}]}"""
    }
    s"""{"status":"success","data":{"resultType":"matrix","result":[${items.mkString(",")}]}}"""
  }

  /** `/api/v1/query_exemplars` payload: rows grouped per series, each
    * exemplar as `{labels, value, timestamp}` (value stringified,
    * timestamp float epoch seconds — the upstream wire shape). */
  private[metrics] def exemplarsJson(rows: Array[Row], labelCols: Seq[String],
                                     metricCol: String): String = {
    def esc(s: String) = jsonEscape(s)
    val series = rows.groupBy(r => labelCols.map(c => String.valueOf(r.getAs[Any](c))))
      .toSeq.sortBy(_._1.mkString("\u0000"))
    val items = series.map { case (_, rs) =>
      val head = rs.head
      val sl = labelCols.map { c =>
        val key = if (c == metricCol) "__name__" else c
        s""""${esc(key)}":"${esc(String.valueOf(head.getAs[Any](c)))}""""
      }.mkString("{", ",", "}")
      val exs = rs.map { r =>
        val ex = r.getAs[Row]("exemplar")
        val traceLabels = ex.schema.fields.map(_.name)
          .filterNot(Set("value", "ts")).toSeq
        val ls = traceLabels.map(n =>
          s""""${esc(n)}":"${esc(String.valueOf(ex.getAs[Any](n)))}"""")
          .mkString("{", ",", "}")
        val tsSec = ex.getAs[java.sql.Timestamp]("ts").getTime / 1000.0
        s"""{"labels":$ls,"value":"${fmtVal(ex.getAs[Double]("value"))}","timestamp":$tsSec}"""
      }
      s"""{"seriesLabels":$sl,"exemplars":[${exs.mkString(",")}]}"""
    }
    s"""{"status":"success","data":[${items.mkString(",")}]}"""
  }

  /** One `ChunkedReadResponse` frame per series: rows arrive sorted by
    * (seriesKey, chunk) with encoded XOR chunk bytes; consecutive rows
    * of one series fold into one frame's chunk list (protobuf-JSON
    * field names; `data` is base64, the JSON bytes mapping). */
  private[metrics] def chunkedReadFrames(rows: Array[Row],
      metricCol: String, seriesKey: Seq[String], queryIndex: Int): Seq[String] =
    bySeries(rows, metricCol, seriesKey).map { case (ls, rs) =>
      val chunks = rs.map { r =>
        val b64 = java.util.Base64.getEncoder
          .encodeToString(r.getAs[Array[Byte]]("__data"))
        s"""{"minTimeMs":${r.getAs[Long]("__min_t")},""" +
          s""""maxTimeMs":${r.getAs[Long]("__max_t")},""" +
          s""""type":"XOR","data":"$b64"}"""
      }.mkString("[", ",", "]")
      s"""{"chunkedSeries":[{"labels":${labelPairsJson(ls)},"chunks":$chunks}],""" +
        s""""queryIndex":$queryIndex}"""
    }

  /** [[chunkedReadFrames]]'s real-bytes twin: one `ChunkedReadResponse`
    * protobuf message per series (same grouping), chunk type XOR = 1,
    * data = the real XOR chunk bytes. Framing (uvarint · CRC32C ·
    * payload) is applied by the caller via ProtoWire.frameMessages. */
  private[metrics] def chunkedReadPb(rows: Array[Row], metricCol: String,
      seriesKey: Seq[String], queryIndex: Int): Seq[Array[Byte]] = {
    import graft.functions.ProtoWire
    bySeries(rows, metricCol, seriesKey).map { case (ls, rs) =>
      ProtoWire.encodeChunkedReadResponse(ProtoWire.ChunkedReadResponsePb(
        Seq(ProtoWire.ChunkedSeriesPb(
          ls.map { case (n, v) => ProtoWire.Label(n, v) },
          rs.map(r => ProtoWire.ChunkPb(
            r.getAs[Long]("__min_t"), r.getAs[Long]("__max_t"), 1,
            scala.collection.immutable.ArraySeq
              .unsafeWrapArray(r.getAs[Array[Byte]]("__data")))))),
        queryIndex.toLong))
    }
  }
}
