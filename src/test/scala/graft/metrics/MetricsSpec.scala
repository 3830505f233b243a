package graft.metrics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Monitoring parity (A1–A8): factory dispatch incl. the unknown-type
  * failure (reference utility.py:55), right-biased label merge (A7,
  * metrics.py:67), histogram bucket arithmetic, config instantiation
  * (P16), and live metrics via df.observe (E47). */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  test("get_metric constructs all five kinds") {
    val kinds = Seq("Counter", "Info", "Summary", "Gauge", "Histogram")
    val built = kinds.map(k => MetricRegistry.getMetric(k, s"m_$k", "d"))
    assert(built.map(_.kind.toString).toSet.size == 5)
    assert(built.forall(_.meta.description == "d"))
  }

  test("unknown metric type raises (utility.py:55 parity)") {
    val e = intercept[IllegalArgumentException] {
      MetricRegistry.getMetric("Quantile", "m", "d")
    }
    assert(e.getMessage.contains("Unknown metric type"))
  }

  test("fromConfig builds the configured fleet (P16, FIXTURES.md B1)") {
    val fleet = MetricRegistry.fromConfig(Seq(
      PromMetricList("Counter", Seq(PromMetric("msg_processed_total", "messages processed",
        Map("pipeline" -> "anomaly"), Map("namespace" -> "", "metric" -> "")))),
      PromMetricList("Gauge", Seq(PromMetric("anomaly_score", "unified anomaly score")))))
    assert(fleet.keySet == Set("msg_processed_total", "anomaly_score"))
    assert(fleet("msg_processed_total").kind == MetricKind.Counter)
    assert(fleet("msg_processed_total").meta.staticLabels("pipeline") == "anomaly")
  }

  test("label merge is right-biased (dict | dict semantics)") {
    val df = Seq(1).toDF("x")
      .withColumn("defaults", map(lit("pipeline"), lit("anomaly"), lit("source"), lit("default")))
      .withColumn("callsite", map(lit("source"), lit("override")))
    val merged = df.select(
      MetricRegistry.mergeLabels(spark, $"defaults", $"callsite").as("m"))
      .select(element_at($"m", "source"), element_at($"m", "pipeline"))
      .collect()(0)
    assert(merged.getString(0) == "override" && merged.getString(1) == "anomaly")
  }

  test("histogram buckets are cumulative and total to count") {
    val df = Seq(0.5, 0.5, 3.0, 7.0, 200.0).map(("m", _)).toDF("metric", "v")
    val h = MetricRegistry.histogram(df, Seq("metric"), "v", Seq(1.0, 5.0, 10.0))
      .orderBy($"le").collect()
    val les = h.map(_.getAs[Double]("le")).toSeq
    assert(les == Seq(1.0, 5.0, 10.0, Double.PositiveInfinity))
    assert(h.map(_.getAs[Long]("bucket_count")).toSeq == Seq(2L, 1L, 1L, 1L))
    assert(h.map(_.getAs[Long]("cum_count")).toSeq == Seq(2L, 3L, 4L, 5L))
  }

  test("gauge is last-write-wins; counter accumulates (A1/A4)") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "m", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "m", 9.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "m", 5.0)
    ).toDF("event_id", "ts", "metric", "value")
    val g = MetricRegistry.gauge(df, Seq("metric"), "value", "ts", "event_id").collect()(0)
    assert(g.getAs[Double]("gauge_value") == 9.0)
    val c = MetricRegistry.counter(df, Seq("metric"), lit(2L)).collect()(0)
    assert(c.getAs[Long]("n_inc") == 3L && c.getAs[Long]("counter_total") == 6L)
  }

  test("summary scale path: percentile_approx tracks exact percentile (E21/A3)") {
    // MetricRegistry.summary documents swapping exact percentile for
    // percentile_approx at corpus scale — pin that the sketch stays within
    // 2% rank error of exact on a real value column.
    val ev = graft.Tables.events(spark, graft.TestSpark.SF)
    val row = ev.agg(
      expr("percentile(value, 0.9)").as("exact"),
      expr("percentile_approx(value, 0.9, 10000)").as("approx"),
      expr("percentile(value, 0.5)").as("exact50"),
      expr("percentile_approx(value, 0.5, 10000)").as("approx50")).collect()(0)
    val n = ev.count().toDouble
    def rankOf(v: Double): Double =
      ev.filter($"value" <= v).count() / n
    assert(math.abs(rankOf(row.getDouble(1)) - 0.9) < 0.02)
    assert(math.abs(rankOf(row.getDouble(3)) - 0.5) < 0.02)
  }

  test("live metric via Observed (df.observe + listener, E47 / A1 live twin)") {
    Observed.use(spark) { obs =>
      obs.observe(graft.Tables.events(spark, graft.TestSpark.SF),
        "live_counter", count(lit(1)).as("n"), sum(lit(2L)).as("amt"))
        .collect()
      val row = obs.await("live_counter")
      assert(row.map(_.getAs[Long]("n")).contains(1000L))
      assert(row.map(_.getAs[Long]("amt")).contains(2000L))
      assert(obs.snapshot.contains("live_counter"))
    }
  }

  test("P14: query endpoint serves vector JSON; over-limit result returns 422") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, "cpu", 3.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 3L, "cpu", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def get(port: Int, q: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port/api/v1/query?query=" +
        java.net.URLEncoder.encode(q, "UTF-8") +
        "&time=2024-01-01T10:02:00Z").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      // a 3-series vector under a cap of 2 must refuse, not collect
      val capped = new MetricsServer(obs, promSource = Some(src), maxResultRows = 2)
      try {
        val (code, body) = get(capped.boundPort, "cpu")
        assert(code == 422 && body.contains("too_many_results"))
        // a narrowed selector under the cap still serves
        val (ok, vec) = get(capped.boundPort, """cpu{user_id="1"}""")
        assert(ok == 200 && vec.contains(""""resultType":"vector""""))
        assert(vec.contains(""""value":[1704103320,"7.0"]"""))
        // no stats unless asked
        assert(!vec.contains(""""stats""""))
      } finally capped.close()
      // stats=all: totals from the executed plan's own SQLMetrics
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        val url = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}" +
          "/api/v1/query?query=cpu&time=2024-01-01T10:02:00Z&stats=all").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode == 200)
        val body = scala.io.Source.fromInputStream(conn.getInputStream).mkString
        // the three-sample fixture: every scan row is queryable
        assert(body.contains(""""totalQueryableSamples":3"""), body.takeRight(300))
        assert(body.contains(""""peakSamples":3"""))
        assert(body.contains(""""evalTotalTime""""))
        // stats live INSIDE data (upstream shape), body stays valid JSON
        assert(body.indexOf(""""stats"""") > body.indexOf(""""result""""))
        assert(body.count(_ == '{') == body.count(_ == '}'))
        // a pure-scalar query serves the upstream "scalar" result type:
        // a bare [ts, value] pair, no vector wrapping
        val surl = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}" +
          "/api/v1/query?query=" + java.net.URLEncoder.encode("pi()", "UTF-8") +
          "&time=2024-01-01T10:02:00Z").toURL
        val sconn = surl.openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(sconn.getResponseCode == 200)
        val sbody = scala.io.Source.fromInputStream(sconn.getInputStream).mkString
        assert(sbody.contains(""""resultType":"scalar""""), sbody)
        assert(sbody.contains(""""result":[1704103320,"3.141592653589793"]"""), sbody)
      } finally srv.close()
    }
  }

  test("/api/v1/status/tsdb serves top-10 cardinality stats") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, "cpu", 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "mem", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        val url = new java.net.URI(
          s"http://127.0.0.1:${srv.boundPort}/api/v1/status/tsdb").toURL
        val body = scala.io.Source.fromInputStream(url.openStream()).mkString
        // cpu has 2 series, mem 1; series counts sort desc
        assert(body.contains(""""seriesCountByMetricName":[{"name":"cpu","value":2},{"name":"mem","value":1}]"""))
        assert(body.contains("""{"name":"user_id","value":2}"""))
        assert(body.contains("""{"name":"event_type=cpu","value":2}"""))
      } finally srv.close()
    }
  }

  test("/federate: newest-in-5m sample per series matching ANY match[], text format") {
    val df = Seq(
      // cpu user 1: two samples inside the 5m window — newest (10:04) wins
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 1L, "cpu", 7.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:04:00"), 1L, "cpu", 9.0),
      // cpu user 2: only a STALE sample (>5m before t) — excluded
      (3L, java.sql.Timestamp.valueOf("2024-01-01 09:50:00"), 2L, "cpu", 3.0),
      // mem user 1: matched by the second selector
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), 1L, "mem", 5.0),
      // disk: matches neither selector
      (5L, java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), 1L, "disk", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def get(port: Int, query: String): (Int, String) = {
      val url = new java.net.URI(
        s"http://127.0.0.1:$port/federate?$query").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src),
        externalLabels = Seq("cluster" -> "local", "user_id" -> "override-me"))
      try {
        val q = "match%5B%5D=cpu&match%5B%5D=" +
          java.net.URLEncoder.encode("""{event_type="mem"}""", "UTF-8") +
          "&time=2024-01-01T10:05:00Z"
        val (code, body) = get(srv.boundPort, q)
        assert(code == 200)
        // newest cpu sample for user 1 with its ORIGINAL ts in millis;
        // external 'cluster' added, external 'user_id' does NOT override
        // the series' own label (the honor-labels federation rule)
        val cpuTs = java.sql.Timestamp.valueOf("2024-01-01 10:04:00").getTime
        assert(body.contains(s"""cpu{cluster="local",user_id="1"} 9.0 $cpuTs"""))
        val memTs = java.sql.Timestamp.valueOf("2024-01-01 10:03:00").getTime
        assert(body.contains(s"""mem{cluster="local",user_id="1"} 5.0 $memTs"""))
        assert(body.contains("# TYPE cpu untyped"))
        // stale user-2 cpu and unmatched disk are absent
        assert(!body.contains("\"2\"") && !body.contains("3.0"))
        assert(!body.contains("disk"))
        // families sort by name: cpu before mem
        assert(body.indexOf("cpu{") < body.indexOf("mem{"))
        // missing match[] is a 400
        assert(get(srv.boundPort, "time=2024-01-01T10:05:00Z")._1 == 400)
      } finally srv.close()
    }
  }

  test("query_exemplars: selector + time range over a per-bucket exemplar frame") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 3.0, "ta"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "cpu", 3.5, "tb"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), 1L, "cpu", 100.0, "tc"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:07:00"), 2L, "mem", 3.0, "td"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "trace_id")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    val ef = NativeHistogram.exemplars(df, Seq(col("user_id"), col("event_type")),
      "value", 0, Seq("trace_id"), "ts", "event_id")
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src), exemplarFrame = Some(ef))
      try {
        def q(sel: String, start: String, end: String) = get(srv.boundPort,
          "/api/v1/query_exemplars?query=" + java.net.URLEncoder.encode(sel, "UTF-8") +
            s"&start=$start&end=$end")
        val (c1, body) = q("""{event_type="cpu"}""",
          "2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z")
        assert(c1 == 200)
        // bucket (2,4]@schema0 holds 3.0 and 3.5: one exemplar, newest
        // (tb) wins; 100.0 sits in its own bucket → tc survives; the mem
        // series is selector-filtered out
        assert(body.contains(""""trace_id":"tb"""") && !body.contains("\"ta\""))
        assert(body.contains(""""trace_id":"tc"""") && !body.contains("\"td\""))
        assert(body.contains(""""__name__":"cpu"""") &&
          body.contains(""""value":"3.5""""))
        // the time range filters exemplars, not series rows
        val (c2, narrow) = q("""{event_type="cpu"}""",
          "2024-01-01T10:05:30Z", "2024-01-01T10:06:30Z")
        assert(c2 == 200 && narrow.contains("\"tc\"") && !narrow.contains("\"tb\""))
      } finally srv.close()
    }
  }

  test("query_exemplars serves the CLASSIC le-bucket exemplar frame too") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 3.0, "ta"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "cpu", 3.5, "tb"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), 1L, "cpu", 100.0, "tc"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:07:00"), 2L, "mem", 3.0, "td"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "trace_id")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    // classic bounds (1, 5, 10]: 3.0 and 3.5 share the le=5 bucket
    // (newest tb wins), 100.0 lands in +Inf; `le` must NOT leak into the
    // series identity
    val ef = MetricRegistry.histogramExemplars(df,
      Seq("user_id", "event_type"), "value", Seq(1.0, 5.0, 10.0),
      Seq("trace_id"), "ts", "event_id")
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src), exemplarFrame = Some(ef))
      try {
        val (c, body) = get(srv.boundPort,
          "/api/v1/query_exemplars?query=" +
            java.net.URLEncoder.encode("""{event_type="cpu"}""", "UTF-8") +
            "&start=2024-01-01T00:00:00Z&end=2024-01-02T00:00:00Z")
        assert(c == 200)
        assert(body.contains(""""trace_id":"tb"""") && !body.contains("\"ta\""))
        assert(body.contains(""""trace_id":"tc"""") && !body.contains("\"td\""))
        assert(!body.contains(""""le""""), "le leaked into series labels")
      } finally srv.close()
    }
  }

  test("P14: query_range matrix JSON + metadata endpoints (labels/values/series)") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "cpu", 9.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, "mem", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        // query_range with a duration-string step: one cpu series, two steps
        val (mc, matrix) = get(srv.boundPort,
          "/api/v1/query_range?query=cpu&start=2024-01-01T10:00:00Z" +
            "&end=2024-01-01T10:05:00Z&step=5m")
        assert(mc == 200 && matrix.contains(""""resultType":"matrix""""))
        assert(matrix.contains(""""values":[[1704103200,"7.0"],[1704103500,"9.0"]]"""))
        val (lc, labels) = get(srv.boundPort, "/api/v1/labels")
        assert(lc == 200 && labels.contains("\"event_type\"") && labels.contains("\"user_id\""))
        val (vc, vals) = get(srv.boundPort, "/api/v1/label/event_type/values")
        assert(vc == 200 && vals.contains("""["cpu","mem"]"""))
        val (nc, names) = get(srv.boundPort, "/api/v1/label/__name__/values")
        assert(nc == 200 && names.contains("""["cpu","mem"]"""))
        // spec-conformant clients percent-encode the brackets in match[]
        val (sc, series) = get(srv.boundPort,
          "/api/v1/series?match%5B%5D=" + java.net.URLEncoder.encode("""{event_type="cpu"}""", "UTF-8"))
        assert(sc == 200 &&
          series.contains(""""data":[{"user_id":"1","event_type":"cpu"}]"""))
        val (bc, err) = get(srv.boundPort, "/api/v1/label/nope/values")
        assert(bc == 400 && err.contains("unknown label"))
        // limit param (upstream): caps the list; 0 = unlimited
        val (l1, lim1) = get(srv.boundPort, "/api/v1/label/event_type/values?limit=1")
        assert(l1 == 200 && lim1.contains("""["cpu"]"""))
        val (l0, lim0) = get(srv.boundPort, "/api/v1/labels?limit=0")
        assert(l0 == 200 && lim0.contains("\"user_id\""))
        // query_range with stats=all carries data.stats
        val (qc, qr) = get(srv.boundPort,
          "/api/v1/query_range?query=cpu&start=2024-01-01T10:00:00Z" +
            "&end=2024-01-01T10:05:00Z&step=5m&stats=all")
        assert(qc == 200 && qr.contains(""""totalQueryableSamples""""))
        assert(qr.count(_ == '{') == qr.count(_ == '}'))
        // duration parsing: compound forms work, sub-second steps refuse
        assert(MetricsServer.parseDurationSec("1h30m") == 5400L)
        assert(MetricsServer.parseDurationSec("90s") == 90L)
        assert(MetricsServer.parseDurationSec("15") == 15L)
        val de = intercept[IllegalArgumentException](
          MetricsServer.parseDurationSec("500ms"))
        assert(de.getMessage.contains("sub-second"))
        // fractional bare seconds refuse too (round 9: "1.5" used to
        // silently truncate to 1s, changing the requested resolution)
        val fe = intercept[IllegalArgumentException](
          MetricsServer.parseDurationSec("1.5"))
        assert(fe.getMessage.contains("sub-second"))
        intercept[IllegalArgumentException](MetricsServer.parseDurationSec("5x"))
        // format_query: canonical prettified re-print; syntax errors 400.
        // 0.5*3 folds at parse time — the endpoint serves the FORMATTED
        // AST, not the input text.
        val (fc, fmt) = get(srv.boundPort,
          "/api/v1/format_query?query=" + java.net.URLEncoder.encode(
            """sum by (event_type) (rate(cpu{user_id="1"}[300s])) > 0.5*3""", "UTF-8"))
        assert(fc == 200 && fmt.contains(
          """"data":"(sum by (event_type) (rate(cpu{user_id=\"1\"}[5m]))) > (1.5)""""))
        val (fe2, ferr) = get(srv.boundPort, "/api/v1/format_query?query=rate(")
        assert(fe2 == 400 && ferr.contains("\"status\":\"error\""))
      } finally srv.close()
    }
  }

  test("P14: /api/v1/rules and /api/v1/alerts serve on-demand AlertRules state") {
    // cpu sampled every minute 10:00-10:05 → continuously active; with
    // for=120s the alert is FIRING at 10:05. mem has no samples → the
    // mem-only rule is inactive with zero alerts.
    val df = (0 to 5).map(m =>
      (m.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), 1L, "cpu", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src), rules = Seq(
        AlertRules.Rule("CpuUp", "cpu", forSec = 120),
        AlertRules.Rule("MemUp", """{event_type="mem"}""", forSec = 0)))
      try {
        val (ac, alerts) = get(srv.boundPort,
          "/api/v1/alerts?time=2024-01-01T10:05:00Z&step=60")
        assert(ac == 200 && alerts.contains(""""alertname":"CpuUp""""))
        assert(alerts.contains(""""state":"firing"""") &&
          alerts.contains(""""value":"7.0""""))
        val (rc, rules) = get(srv.boundPort,
          "/api/v1/rules?time=2024-01-01T10:05:00Z&step=60")
        assert(rc == 200 && rules.contains(""""name":"CpuUp""""))
        assert(rules.contains(""""state":"firing"""") &&
          rules.contains(""""state":"inactive""""))
        assert(rules.contains(""""duration":120""") &&
          rules.contains(""""type":"alerting""""))
        // a too-short window is PENDING: at 10:01 the run is 60s old
        val (pc, pending) = get(srv.boundPort,
          "/api/v1/alerts?time=2024-01-01T10:01:00Z&step=60")
        assert(pc == 200 && pending.contains(""""state":"pending""""))
        // missing time refuses
        val (mc, _) = get(srv.boundPort, "/api/v1/alerts")
        assert(mc == 400)
      } finally srv.close()
    }
  }

  test("A8: HTTP exposition serves the Observed snapshot in Prometheus text format") {
    Observed.use(spark) { obs =>
      obs.observe(graft.Tables.events(spark, graft.TestSpark.SF),
        "scrape_me", count(lit(1)).as("n"), sum(lit(3L)).as("amt"))
        .collect()
      assert(obs.await("scrape_me").isDefined)
      val srv = new MetricsServer(obs) // port 0 → ephemeral
      try {
        val url = new java.net.URI(
          s"http://127.0.0.1:${srv.boundPort}/metrics").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val body = scala.io.Source.fromInputStream(conn.getInputStream).mkString
        assert(conn.getResponseCode == 200)
        assert(conn.getContentType.startsWith("text/plain"))
        assert(body.contains("# TYPE graft_scrape_me gauge"))
        assert(body.contains("graft_scrape_me_n 1000.0"))
        assert(body.contains("graft_scrape_me_amt 3000.0"))
      } finally srv.close()
    }
  }

  test("A8: /api/v1/parse_query serves the AST, /api/v1/metadata the config") {
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, metadata = Seq(
        PromMetricList("Counter", Seq(
          PromMetric("msg_processed_total", "messages processed"),
          PromMetric("errors_total", "errors seen"))),
        PromMetricList("Gauge", Seq(PromMetric("anomaly_score", "unified score")))))
      try {
        val (pc, ast) = get(srv.boundPort, "/api/v1/parse_query?query=" +
          java.net.URLEncoder.encode(
            """sum by (job) (rate(cpu{env=~"prod.*"}[5m] offset 1h))""", "UTF-8"))
        assert(pc == 200 && ast.contains(""""type":"aggregation""""))
        assert(ast.contains(""""op":"sum"""") && ast.contains(""""grouping":["job"]"""))
        assert(ast.contains(""""type":"matrixSelector"""") &&
          ast.contains(""""range":300000""") && ast.contains(""""offset":3600000"""))
        assert(ast.contains(
          """{"name":"__name__","type":"=","value":"cpu"}"""))
        val (ec, err) = get(srv.boundPort, "/api/v1/parse_query?query=rate(")
        assert(ec == 400 && err.contains("\"status\":\"error\""))
        val (mc, md) = get(srv.boundPort, "/api/v1/metadata")
        assert(mc == 200 && md.contains(
          """"anomaly_score":[{"type":"gauge","help":"unified score","unit":""}]"""))
        assert(md.contains(""""errors_total":[{"type":"counter""""))
        val (oc, one) = get(srv.boundPort, "/api/v1/metadata?metric=errors_total")
        assert(oc == 200 && one.contains("errors_total") &&
          !one.contains("anomaly_score"))
        val (lc, lim) = get(srv.boundPort, "/api/v1/metadata?limit=1")
        assert(lc == 200 && lim.contains("anomaly_score") &&
          !lim.contains("errors_total"))
      } finally srv.close()
    }
  }

  test("parse_query JSON: @ pins, subqueries, binops, literals round out") {
    val j1 = PromQlJson.json("cpu @ 1705312800 offset -1h")
    assert(j1.contains(""""timestamp":1705312800000""") &&
      j1.contains(""""offset":-3600000"""))
    val j2 = PromQlJson.json("max_over_time(rate(cpu[5m])[1h:5m] @ end())")
    assert(j2.contains(""""type":"subquery"""") &&
      j2.contains(""""step":300000""") && j2.contains(""""startOrEnd":"end""""))
    val j3 = PromQlJson.json(
      "sum(a) / on(job) group_left(env) sum by (job, env) (b)")
    assert(j3.contains(""""card":"many-to-one"""") &&
      j3.contains(""""matchingLabels":["job"]""") &&
      j3.contains(""""include":["env"]"""))
    val j4 = PromQlJson.json("topk(3, cpu) > bool 2")
    assert(j4.contains(""""op":"topk"""") && j4.contains(""""bool":true""") &&
      j4.contains("""{"type":"numberLiteral","val":"2"}"""))
    val j5 = PromQlJson.json("""label_replace(up, "dst", "$1", "src", "(.*)")""")
    assert(j5.contains(""""type":"call"""") &&
      j5.contains("""{"type":"stringLiteral","val":"dst"}"""))
  }

  test("admin API: delete_series masks reads; clean_tombstones folds them in") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, "cpu", 3.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "mem", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        val q = "/api/v1/query?query=" + enc("sum(cpu)") +
          "&time=2024-01-01T10:02:00Z"
        val (c0, b0) = get(srv.boundPort, q)
        assert(c0 == 200 && b0.contains("\"10.0\""), b0)
        // delete the user_id=2 cpu series over a day; reads mask it out
        val (cd, bd) = get(srv.boundPort,
          "/api/v1/admin/tsdb/delete_series?match[]=" +
            enc("""cpu{user_id="2"}""") +
            "&start=2024-01-01T00:00:00Z&end=2024-01-02T00:00:00Z")
        assert(cd == 200 && bd.contains("success"), bd)
        val (c1, b1) = get(srv.boundPort, q)
        assert(c1 == 200 && b1.contains("\"7.0\""), b1)
        // an interval BEFORE the sample must not mask anything extra
        val (c1b, _) = get(srv.boundPort,
          "/api/v1/admin/tsdb/delete_series?match[]=" + enc("mem") +
            "&start=2023-01-01T00:00:00Z&end=2023-01-02T00:00:00Z")
        assert(c1b == 200)
        val (c2, b2) = get(srv.boundPort,
          "/api/v1/query?query=" + enc("sum(mem)") +
            "&time=2024-01-01T10:02:00Z")
        assert(c2 == 200 && b2.contains("\"5.0\""), b2)
        // clean folds the masks in permanently; the view is unchanged
        val (cc, bc) = get(srv.boundPort, "/api/v1/admin/tsdb/clean_tombstones")
        assert(cc == 200 && bc.contains("success"), bc)
        val (c3, b3) = get(srv.boundPort, q)
        assert(c3 == 200 && b3.contains("\"7.0\""), b3)
        // snapshot persists the masked view (2 of 3 rows survive deletion)
        val (cs, bs) = get(srv.boundPort, "/api/v1/admin/tsdb/snapshot")
        assert(cs == 200 && bs.contains("graft-snap-"), bs)
        val dir = bs.split("\"dir\":\"")(1).split("\"")(0)
        assert(spark.read.parquet(dir).count() == 2L)
      } finally srv.close()
    }
  }

  test("lifecycle/status faces: healthy, ready, buildinfo, flags") {
    def get(port: Int, p: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$p").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, maxResultRows = 123)
      try {
        assert(get(srv.boundPort, "/-/healthy")._2.contains("Healthy"))
        assert(get(srv.boundPort, "/-/ready")._2.contains("Ready"))
        assert(get(srv.boundPort, "/api/v1/status/buildinfo")._2
          .contains("\"version\""))
        val (cf, bf) = get(srv.boundPort, "/api/v1/status/flags")
        assert(cf == 200 && bf.contains("\"query.max-result-rows\":\"123\""), bf)
        val (cr, br) = get(srv.boundPort, "/api/v1/status/runtimeinfo")
        assert(cr == 200 && br.contains("\"startTime\":\"20") &&
          br.contains("\"reloadConfigSuccess\":true"), br)
        val (cw, bw) = get(srv.boundPort, "/api/v1/status/walreplay")
        assert(cw == 200 && bw.contains("\"state\":\"done\""), bw)
        val (cc, bc) = get(srv.boundPort, "/api/v1/status/config")
        assert(cc == 200 && bc.contains("max_result_rows: 123"), bc)
        assert(get(srv.boundPort, "/api/v1/targets")._2
          .contains("\"activeTargets\":[]"))
        // data-bearing targets when a frame is bound (q205 scrape-state shape)
        val tf = Seq(
          ("api", "10.0.0.1:9100", "up",
            java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
          ("api", "10.0.0.2:9100", "down",
            java.sql.Timestamp.valueOf("2024-01-01 10:00:30")))
          .toDF("job", "instance", "health", "last_scrape")
        val srv2 = new MetricsServer(obs, targets = Some(tf))
        try {
          val (ct, bt) = get(srv2.boundPort, "/api/v1/targets")
          assert(ct == 200 && bt.contains("\"instance\":\"10.0.0.1:9100\"") &&
            bt.contains("\"health\":\"down\"") &&
            bt.contains("\"lastScrape\":\"2024-01-01T10:00:00"), bt)
          val (_, bd) = get(srv2.boundPort, "/api/v1/targets?state=dropped")
          assert(bd.contains("\"activeTargets\":[]"), bd)
        } finally srv2.close()
        assert(get(srv.boundPort, "/api/v1/alertmanagers")._2
          .contains("\"activeAlertmanagers\":[]"))
        assert(get(srv.boundPort, "/api/v1/notifications")._2
          .contains("\"data\":[]"))
      } finally srv.close()
    }
  }

  test("ingest receivers: POST /api/v1/write and /api/v1/otlp/v1/metrics serve back") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def post(port: Int, path: String, body: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body.getBytes("UTF-8")) finally os.close()
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        // remote-write v1: cpu{user_id="2"} = 5 at 10:01:00
        val wr = """{"timeseries":[{"labels":[
          |{"name":"__name__","value":"cpu"},{"name":"user_id","value":"2"}],
          |"samples":[{"value":5.0,"timestamp":1704103260000}]}]}"""
          .stripMargin.replace("\n", "")
        val (cw, bw) = post(srv.boundPort, "/api/v1/write", wr)
        assert(cw == 200 && bw.contains("success"), bw)
        val (c1, b1) = get(srv.boundPort, "/api/v1/query?query=" +
          enc("sum(cpu)") + "&time=2024-01-01T10:02:00Z")
        assert(c1 == 200 && b1.contains("\"12.0\""), b1) // 7 stored + 5 ingested
        // OTLP: mem (dotted name normalizes) user_id=3 = 2.5 at 10:01:30
        val otlp = """{"resourceMetrics":[{"resource":{"attributes":[
          |{"key":"service.name","value":{"stringValue":"job1"}}]},
          |"scopeMetrics":[{"metrics":[{"name":"mem","sum":{
          |"aggregationTemporality":2,"isMonotonic":true,"dataPoints":[
          |{"timeUnixNano":"1704103290000000000","asDouble":2.5,
          |"attributes":[{"key":"user_id","value":{"stringValue":"3"}}]}]}}]}]}]}"""
          .stripMargin.replace("\n", "")
        val (co, bo) = post(srv.boundPort, "/api/v1/otlp/v1/metrics", otlp)
        assert(co == 200 && bo.contains("success"), bo)
        val (c2, b2) = get(srv.boundPort, "/api/v1/query?query=" +
          enc("""mem{user_id="3"}""") + "&time=2024-01-01T10:02:00Z")
        assert(c2 == 200 && b2.contains("\"2.5\""), b2)
        // a malformed body errors, doesn't wedge the server
        val (ce, _) = post(srv.boundPort, "/api/v1/write", "{nope")
        assert(ce == 400)
        val (coe, _) = post(srv.boundPort, "/api/v1/otlp/v1/metrics", "{nope")
        assert(coe == 400)
        val (c3, b3) = get(srv.boundPort, "/api/v1/query?query=" +
          enc("sum(cpu)") + "&time=2024-01-01T10:02:00Z")
        assert(c3 == 200 && b3.contains("\"12.0\""), b3)
        // REMOTE-READ: raw samples back out over the same wire family —
        // the ingested cpu{user_id="2"}=5 is visible to remote readers
        // (ingest union + tombstone masking ride the same src), and a
        // second query in the request gets its own results entry.
        val rr = """{"queries":[
          |{"startTimestampMs":1704103200000,"endTimestampMs":1704103500000,
          | "matchers":[{"type":"EQ","name":"__name__","value":"cpu"}]},
          |{"startTimestampMs":0,"endTimestampMs":9999999999999,
          | "matchers":[{"type":"RE","name":"user_id","value":"3"}]}]}"""
          .stripMargin.replace("\n", "")
        val (cr, br) = post(srv.boundPort, "/api/v1/read", rr)
        assert(cr == 200, br)
        // q1: both cpu series (stored user_id=1 @10:00 v=7, ingested
        // user_id=2 @10:01 v=5), labels as pairs, ms timestamps
        assert(br.contains(""""name":"__name__","value":"cpu""""), br)
        assert(br.contains(""""value":7.0,"timestamp":1704103200000"""), br)
        assert(br.contains(""""value":5.0,"timestamp":1704103260000"""), br)
        // q2: the OTLP-ingested mem{user_id="3"} sample, own result slot
        assert(br.contains(""""results":[{"timeseries":["""), br)
        assert(br.contains(""""value":2.5,"timestamp":1704103290000"""), br)
        // NRE matcher type + unknown type rejection
        val (cu, bu) = post(srv.boundPort, "/api/v1/read",
          """{"queries":[{"matchers":[{"type":"XX","name":"a","value":"b"}]}]}""")
        assert(cu == 400 && bu.contains("unknown matcher type"), bu)
        // POST form-encoded query (upstream api.go r.Form; Grafana POSTs
        // long queries this way) — body params reach the evaluator
        val formUrl = new java.net.URI(
          s"http://127.0.0.1:${srv.boundPort}/api/v1/query").toURL
        val fc = formUrl.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        fc.setRequestMethod("POST"); fc.setDoOutput(true)
        fc.setRequestProperty("Content-Type",
          "application/x-www-form-urlencoded")
        val form = "query=" + enc("sum(cpu)") + "&time=2024-01-01T10:02:00Z"
        val fos = fc.getOutputStream
        try fos.write(form.getBytes("UTF-8")) finally fos.close()
        assert(fc.getResponseCode == 200)
        val fb = scala.io.Source.fromInputStream(fc.getInputStream).mkString
        assert(fb.contains("\"12.0\""), fb)
        // delete_series masks remote reads too (same src discipline)
        val (cd, _) = get(srv.boundPort,
          "/api/v1/admin/tsdb/delete_series?match[]=" + enc("""mem{user_id="3"}"""))
        assert(cd == 200)
        val (cr2, br2) = post(srv.boundPort, "/api/v1/read", rr)
        assert(cr2 == 200 && !br2.contains("2.5"), br2)
      } finally srv.close()
    }
  }

  test("write receiver speaks the REAL wire: snappy(protobuf) v1 and v2") {
    import graft.functions.{ProtoWire, Snappy}
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def postBytes(port: Int, body: Array[Byte],
                  headers: Seq[(String, String)]): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port/api/v1/write").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    def get(port: Int, pathAndQuery: String): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        // v1: exactly what a stock Prometheus sends — snappy-compressed
        // WriteRequest protobuf with Content-Encoding: snappy
        val pb1 = ProtoWire.encode(Seq(ProtoWire.Series(
          Seq(ProtoWire.Label("__name__", "cpu"),
            ProtoWire.Label("user_id", "2")),
          Seq(ProtoWire.Sample(5.0, 1704103260000L)))))
        val (c1, b1) = postBytes(srv.boundPort, Snappy.compress(pb1), Seq(
          "Content-Encoding" -> "snappy",
          "Content-Type" -> "application/x-protobuf"))
        assert(c1 == 200 && b1.contains("success"), b1)
        val (cq, bq) = get(srv.boundPort, "/api/v1/query?query=" +
          enc("sum(cpu)") + "&time=2024-01-01T10:02:00Z")
        assert(cq == 200 && bq.contains("\"12.0\""), bq) // 7 stored + 5 wire
        // v2: interned symbols, packed refs, proto= selects the decoder
        val pb2 = ProtoWire.encodeV2(ProtoWire.RequestV2(
          Seq("", "__name__", "mem", "user_id", "3"),
          Seq(ProtoWire.SeriesV2(Seq(1, 2, 3, 4),
            Seq(ProtoWire.Sample(2.5, 1704103290000L)), Nil))))
        val (c2, b2) = postBytes(srv.boundPort, Snappy.compress(pb2), Seq(
          "Content-Encoding" -> "snappy",
          "Content-Type" ->
            "application/x-protobuf;proto=io.prometheus.write.v2.Request"))
        assert(c2 == 200 && b2.contains("success"), b2)
        val (cm, bm) = get(srv.boundPort, "/api/v1/query?query=" +
          enc("""mem{user_id="3"}""") + "&time=2024-01-01T10:02:00Z")
        assert(cm == 200 && bm.contains("\"2.5\""), bm)
        // corrupt snappy framing errors cleanly, server stays up
        val (ce, be) = postBytes(srv.boundPort,
          Array[Byte](0x63, 0x10, 0x41), Seq("Content-Encoding" -> "snappy"))
        assert(ce == 400 && be.contains("snappy"), be)
        val (cq2, bq2) = get(srv.boundPort, "/api/v1/query?query=" +
          enc("sum(cpu)") + "&time=2024-01-01T10:02:00Z")
        assert(cq2 == 200 && bq2.contains("\"12.0\""), bq2)
        // valid snappy around a truncated WriteRequest: the decode fails
        // on the write itself (400), and nothing of it is served after
        val (cp, bp) = postBytes(srv.boundPort,
          Snappy.compress(pb1.dropRight(3)), Seq(
            "Content-Encoding" -> "snappy",
            "Content-Type" -> "application/x-protobuf"))
        assert(cp == 400 && bp.contains("protobuf"), bp)
        val (cq3, bq3) = get(srv.boundPort, "/api/v1/query?query=" +
          enc("sum(cpu)") + "&time=2024-01-01T10:02:00Z")
        assert(cq3 == 200 && bq3.contains("\"12.0\""), bq3)
        // REMOTE-READ over the real wire: snappy(ReadRequest pb) in,
        // snappy(ReadResponse pb) out — both ingested-and-stored samples
        // visible, matcher enum decoded, labels/samples byte-real.
        val rr = ProtoWire.encodeReadRequest(ProtoWire.ReadRequestPb(
          Seq(ProtoWire.ReadQueryPb(1704103200000L, 1704103500000L,
            Seq(ProtoWire.MatcherPb(0, "__name__", "cpu")))),
          acceptedTypes = Seq(0)))
        val url = new java.net.URI(
          s"http://127.0.0.1:${srv.boundPort}/api/v1/read").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.setRequestProperty("Content-Encoding", "snappy")
        conn.setRequestProperty("Content-Type", "application/x-protobuf")
        val os2 = conn.getOutputStream
        try os2.write(Snappy.compress(rr)) finally os2.close()
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Content-Type") == "application/x-protobuf")
        assert(conn.getHeaderField("Content-Encoding") == "snappy")
        val respBytes = conn.getInputStream.readAllBytes()
        val resp = ProtoWire.decodeReadResponse(Snappy.decompress(respBytes))
        assert(resp.length == 1)
        val series = resp.head
        assert(series.length == 2, series) // stored user 1 + wire user 2
        val byUser = series.map(s =>
          s.labels.find(_.name == "user_id").get.value -> s.samples).toMap
        assert(byUser("1") == Seq(ProtoWire.Sample(7.0, 1704103200000L)))
        assert(byUser("2") == Seq(ProtoWire.Sample(5.0, 1704103260000L)))
        assert(series.forall(_.labels.exists(l =>
          l.name == "__name__" && l.value == "cpu")))
      } finally srv.close()
    }
  }

  test("remote-read STREAMED_XOR_CHUNKS: negotiated, real decodable chunk bytes") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:15"), 1L, "cpu", 7.5),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:30"), 1L, "cpu", 7.5),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:00:45"), 1L, "cpu", 8.25),
      (5L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, "cpu", 1.0),
      (6L, java.sql.Timestamp.valueOf("2024-01-01 10:00:30"), 2L, "cpu", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    def post(port: Int, path: String, body: String): (Int, String, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body.getBytes("UTF-8")) finally os.close()
      val code = conn.getResponseCode
      val ct = Option(conn.getHeaderField("Content-Type")).getOrElse("")
      val in = if (code == 200) conn.getInputStream else conn.getErrorStream
      (code, ct, scala.io.Source.fromInputStream(in).mkString)
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        val rr = """{"acceptedResponseTypes":["STREAMED_XOR_CHUNKS"],
          |"queries":[{"startTimestampMs":0,"endTimestampMs":9999999999999,
          | "matchers":[{"type":"EQ","name":"__name__","value":"cpu"}]}]}"""
          .stripMargin.replace("\n", "")
        val (code, ct, body) = post(srv.boundPort, "/api/v1/read", rr)
        assert(code == 200, body)
        assert(ct.startsWith("application/x-streamed-protobuf"), ct)
        val frames = body.split("\n").filter(_.nonEmpty)
        assert(frames.length == 2, body) // one frame per series
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val bySeries = frames.map { f =>
          val root = mapper.readTree(f)
          assert(root.get("queryIndex").asInt == 0)
          val cs = root.get("chunkedSeries").get(0)
          val uid = {
            import scala.jdk.CollectionConverters._
            cs.get("labels").asScala
              .find(_.get("name").asText == "user_id").get.get("value").asText
          }
          val ch = cs.get("chunks").get(0)
          assert(ch.get("type").asText == "XOR")
          val samples = graft.functions.XorChunk.decode(
            java.util.Base64.getDecoder.decode(ch.get("data").asText))
            .map { case (t, b) => (t, java.lang.Double.longBitsToDouble(b)) }
          assert(samples.head._1 == ch.get("minTimeMs").asLong)
          assert(samples.last._1 == ch.get("maxTimeMs").asLong)
          uid -> samples.toSeq
        }.toMap
        // decoded chunk content == the stored samples, ms-exact
        val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
        assert(bySeries("1") == Seq((base, 7.0), (base + 15000L, 7.5),
          (base + 30000L, 7.5), (base + 45000L, 8.25)), bySeries("1"))
        assert(bySeries("2") == Seq((base, 1.0), (base + 30000L, 2.0)))
        // no acceptedResponseTypes → SAMPLES JSON (negotiation default)
        val (c2, ct2, b2) = post(srv.boundPort, "/api/v1/read",
          """{"queries":[{"matchers":[{"type":"EQ","name":"__name__","value":"cpu"}]}]}""")
        assert(c2 == 200 && ct2.startsWith("application/json") &&
          b2.contains("\"samples\""), b2)
        // SAMPLES listed first wins even if streamed is also accepted
        val (c3, ct3, _) = post(srv.boundPort, "/api/v1/read",
          """{"acceptedResponseTypes":["SAMPLES","STREAMED_XOR_CHUNKS"],
            |"queries":[{"matchers":[{"type":"EQ","name":"__name__","value":"cpu"}]}]}"""
            .stripMargin.replace("\n", ""))
        assert(c3 == 200 && ct3.startsWith("application/json"))
        // THE REAL STREAMED WIRE: pb ReadRequest negotiating
        // STREAMED_XOR_CHUNKS(1) gets chunked-transport frames back —
        // uvarint len · BE CRC32C · ChunkedReadResponse protobuf,
        // chunk data = real XOR bytes (upstream chunked.go framing)
        import graft.functions.{ProtoWire, Snappy}
        val pbReq = ProtoWire.encodeReadRequest(ProtoWire.ReadRequestPb(
          Seq(ProtoWire.ReadQueryPb(0L, 9999999999999L,
            Seq(ProtoWire.MatcherPb(0, "__name__", "cpu")))),
          acceptedTypes = Seq(1, 0)))
        val url = new java.net.URI(
          s"http://127.0.0.1:${srv.boundPort}/api/v1/read").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.setRequestProperty("Content-Encoding", "snappy")
        val os2 = conn.getOutputStream
        try os2.write(Snappy.compress(pbReq)) finally os2.close()
        assert(conn.getResponseCode == 200)
        assert(conn.getHeaderField("Content-Type")
          .startsWith("application/x-streamed-protobuf"))
        assert(conn.getHeaderField("Content-Encoding") == null) // not snappy'd
        val frameBytes = conn.getInputStream.readAllBytes()
        val msgs = ProtoWire.unframeMessages(frameBytes) // CRC-verified
        assert(msgs.length == 2) // one message per series
        val pbBySeries = msgs.map { m =>
          val resp = ProtoWire.decodeChunkedReadResponse(m)
          assert(resp.queryIndex == 0L && resp.series.length == 1)
          val s = resp.series.head
          val uid = s.labels.find(_.name == "user_id").get.value
          val ch = s.chunks.head
          assert(ch.ctype == 1) // XOR
          val samples = graft.functions.XorChunk.decode(ch.data.toArray)
            .map { case (t, b) => (t, java.lang.Double.longBitsToDouble(b)) }
          assert(samples.head._1 == ch.minMs && samples.last._1 == ch.maxMs)
          uid -> samples.toSeq
        }.toMap
        assert(pbBySeries("1") == bySeries("1") &&
          pbBySeries("2") == bySeries("2")) // pb face == JSON face exactly
        // a flipped CRC bit is rejected, never silently decoded
        val corrupted = frameBytes.clone()
        corrupted(corrupted.length - 1) = (corrupted.last ^ 0x01).toByte
        intercept[IllegalArgumentException] {
          ProtoWire.unframeMessages(corrupted)
        }
      } finally srv.close()
    }
  }

  /** HTTP helpers for the serving-state cases below. */
  private def call(port: Int, pathAndQuery: String,
                   body: Option[String] = None): (Int, String) = {
    val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    body.foreach { b =>
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(b.getBytes("UTF-8")) finally os.close()
    }
    val code = conn.getResponseCode
    val in = if (code == 200) conn.getInputStream else conn.getErrorStream
    (code, scala.io.Source.fromInputStream(in).mkString)
  }
  private def writeBody(metric: String, user: Long, value: Double): String =
    s"""{"timeseries":[{"labels":[{"name":"__name__","value":"$metric"},""" +
      s"""{"name":"user_id","value":"$user"}],""" +
      s""""samples":[{"value":$value,"timestamp":1704103260000}]}]}"""
  private def cpuSource = {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
  }

  test("serving state: concurrent writes, deletes and cleans lose and double nothing") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def query(port: Int, q: String): String = {
      val (c, b) = call(port, "/api/v1/query?query=" + enc(q) +
        "&time=2024-01-01T10:02:00Z")
      assert(c == 200, b)
      b
    }
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(cpuSource))
      try {
        val port = srv.boundPort
        val codes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
        // three writers, each its own distinct `w` series; one admin
        // thread writing a `gone` series, deleting it, then cleaning
        val writers = (1 to 3).map { t =>
          new Thread(() => (0 until 8).foreach { i =>
            val u = t * 100L + i
            codes.add(call(port, "/api/v1/write", Some(writeBody("w", u, u + 0.5))))
          })
        }
        val admin = new Thread(() => (0 until 6).foreach { k =>
          codes.add(call(port, "/api/v1/write", Some(writeBody("gone", k, 1.0))))
          codes.add(call(port, "/api/v1/admin/tsdb/delete_series?match[]=" +
            enc(s"""gone{user_id="$k"}""")))
          codes.add(call(port, "/api/v1/admin/tsdb/clean_tombstones"))
        })
        val all = writers :+ admin
        all.foreach(_.start()); all.foreach(_.join())
        assert(codes.size == 24 + 18)
        codes.forEach { case (c, b) => assert(c == 200, b) }
        // every written series once, with its value: a lost write is
        // missing, a doubled one sums to twice its value
        val item = """\{"metric":\{([^}]*)\},"value":\[[^,]+,"([^"]+)"\]\}""".r
        val user = """"user_id":"(\d+)"""".r
        val got = item.findAllMatchIn(query(port, "sum_over_time(w[5m])")).map { m =>
          user.findFirstMatchIn(m.group(1)).get.group(1).toLong -> m.group(2).toDouble
        }.toList
        val want = for (t <- 1 to 3; i <- 0 until 8) yield (t * 100L + i) -> (t * 100L + i + 0.5)
        assert(got.sorted == want.toList.sorted)
        assert(query(port, "sum_over_time(cpu[5m])").contains("\"7.0\""))
        assert(query(port, "count_over_time(gone[5m])").contains("\"result\":[]"))
      } finally srv.close()
    }
  }

  test("decode on write: the served plan keeps one ingest leaf however many writes arrived") {
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(cpuSource))
      try {
        def write(u: Long): Unit = {
          val (c, b) = call(srv.boundPort, "/api/v1/write", Some(writeBody("w", u, 1.0)))
          assert(c == 200, b)
        }
        def leaves = srv.served.get.df.queryExecution.analyzed.collectLeaves().size
        write(0)
        val afterOne = leaves
        (1 until 20).foreach(u => write(u.toLong))
        assert(leaves == afterOne)
        assert(srv.served.get.df.count() == 1 + 20)
      } finally srv.close()
    }
  }

  /** Every physical operator of an executed plan, AQE stages unwrapped. */
  private def operators(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (MetricsServer.planKids(p) ++ p.subqueries).flatMap(operators)
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    operators(df.queryExecution.executedPlan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
  }
  /** A small `x{a=…}` counter frame, read back from one parquet file. */
  private def xFrame: org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_served").resolve("x").toString
    (for (a <- Seq("p", "q", "r"); m <- 0 until 10) yield
      (a.hashCode.toLong * 100 + m, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"),
        a, "x", (m * (a.head - 'o')).toDouble))
      .toDF("event_id", "ts", "a", "name", "value")
      .coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }
  private def xSource(df: org.apache.spark.sql.DataFrame) =
    PromQlParser.PromSource(df, "name", Seq("a", "name"), "ts", "event_id", "value")

  test("one-partition source: served queries plan no shuffle, before and after ingest") {
    val t = "2024-01-01 10:09:00"
    def plans(src: PromQlParser.PromSource) = Seq(
      PromQlParser.eval(src, "rate(x[5m])", t),
      PromQlParser.eval(src, "sum by (a) (rate(x[5m]))", t),
      PromQlParser.eval(src, "topk(2, x)", t),
      PromQlParser.evalRange(src, "sum by (a) (rate(x[5m]))", "2024-01-01 10:05:00", t, 60))
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(xSource(xFrame)))
      try {
        assert(srv.served.get.df.rdd.getNumPartitions == 1)
        plans(srv.served.get).foreach(df => assert(shuffles(df) == 0, df.queryExecution.executedPlan))
        // one write and one delete: the served frame is union + mask
        val (wc, wb) = call(srv.boundPort, "/api/v1/write", Some(
          """{"timeseries":[{"labels":[{"name":"__name__","value":"x"},""" +
            """{"name":"a","value":"s"}],"samples":[{"value":4,"timestamp":1704103500000}]}]}"""))
        assert(wc == 200, wb)
        val (dc, db) = call(srv.boundPort, "/api/v1/admin/tsdb/delete_series?match[]=" +
          java.net.URLEncoder.encode("""x{a="r"}""", "UTF-8"))
        assert(dc == 200, db)
        val src = srv.served.get
        assert(src.df.rdd.getNumPartitions == 1)
        plans(src).foreach(df => assert(shuffles(df) == 0, df.queryExecution.executedPlan))
        val series = PromQlParser.eval(src, "x", t).collect().map(_.getAs[String]("a")).sorted
        assert(series.toSeq == Seq("p", "q", "s"))
      } finally srv.close()
    }
  }

  test("many-partition source: served queries keep its partitions and their exchanges") {
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(xSource(xFrame.repartition(3))))
      try {
        val src = srv.served.get
        assert(src.df.rdd.getNumPartitions == 3)
        assert(shuffles(PromQlParser.eval(src, "sum by (a) (rate(x[5m]))",
          "2024-01-01 10:09:00")) > 0)
      } finally srv.close()
    }
  }

  test("parseTime: fractional unix seconds floor; RFC3339 offsets convert to UTC") {
    def sec(s: String) = MetricsServer.epochSec(MetricsServer.parseTime(s))
    assert(sec("1704067200") == 1704067200L)
    assert(sec("1704067200.5") == 1704067200L)
    assert(sec("1704067200.000") == 1704067200L)
    assert(sec("2024-01-01T00:00:00Z") == 1704067200L)
    assert(sec("2024-01-01T00:00:00.250Z") == 1704067200L)
    assert(sec("2024-01-01T02:00:00+02:00") == 1704067200L)
    assert(sec("2023-12-31T19:30:00.999-04:30") == 1704067200L)
    assert(sec("2024-01-01 00:00:00") == 1704067200L)
    // both forms serve over HTTP, at the same instant as the Z form
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(cpuSource))
      try Seq("1704103320.5", "2024-01-01T12:02:00%2B02:00").foreach { tm =>
        val (c, b) = call(srv.boundPort, s"/api/v1/query?query=cpu&time=$tm")
        assert(c == 200, b)
        assert(b.contains(""""value":[1704103320,"7.0"]"""), b)
      } finally srv.close()
    }
  }

  /** One HTTP exchange: status, Content-Type, Content-Encoding, body. */
  private def exchange(port: Int, pathAndQuery: String,
                       body: Option[Array[Byte]] = None,
                       headers: Seq[(String, String)] = Nil)
      : (Int, String, Option[String], Array[Byte]) = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(b) finally os.close()
    }
    val code = conn.getResponseCode
    val in = if (code == 200) conn.getInputStream else conn.getErrorStream
    (code, conn.getContentType, Option(conn.getHeaderField("Content-Encoding")),
      in.readAllBytes())
  }

  test("repeated match[]: series returns every selector's series, delete_series masks them all") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "cpu", 7.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, "mem", 3.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 3L, "disk", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = PromQlParser.PromSource(df, "event_type",
      Seq("user_id", "event_type"), "ts", "event_id", "value")
    val two = "match[]=cpu&match[]=" + enc("""{event_type="mem"}""")
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(src))
      try {
        val (cs, bs) = call(srv.boundPort, "/api/v1/series?" + two)
        assert(cs == 200 && bs.contains("\"cpu\"") && bs.contains("\"mem\"") &&
          !bs.contains("disk"), bs)
        // federate reads match[] from a POST form body too
        val (cf, bf) = call(srv.boundPort, "/federate",
          Some(two + "&time=2024-01-01T10:02:00Z"))
        assert(cf == 200 && bf.contains("cpu{") && bf.contains("mem{") &&
          !bf.contains("disk"), bf)
        // a non-selector is still refused
        val (cn, _) = call(srv.boundPort, "/api/v1/series?match[]=cpu&match[]=" +
          enc("sum(cpu)"))
        assert(cn == 400)
        val (cd, bd) = call(srv.boundPort, "/api/v1/admin/tsdb/delete_series?" + two)
        assert(cd == 200, bd)
        val (ca, ba) = call(srv.boundPort, "/api/v1/series?match[]=" +
          enc("""{event_type=~".+"}"""))
        assert(ca == 200 && ba.contains("disk") && !ba.contains("cpu") &&
          !ba.contains("mem"), ba)
      } finally srv.close()
    }
  }

  test("every reply family: status and envelope on one success and one error") {
    import graft.functions.{ProtoWire, Snappy}
    def bytes(s: String) = Some(s.getBytes("UTF-8"))
    def otlp(ts: String) = bytes(
      """{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"name":"o","gauge":""" +
        s"""{"dataPoints":[{"timeUnixNano":"$ts","asDouble":1.0}]}}]}]}]}""")
    val readPb = Some(Snappy.compress(ProtoWire.encodeReadRequest(
      ProtoWire.ReadRequestPb(Seq(ProtoWire.ReadQueryPb(0L, 9999999999999L,
        Seq(ProtoWire.MatcherPb(0, "__name__", "cpu")))), acceptedTypes = Seq(0)))))
    def readJson(mtype: String) = bytes(
      s"""{"queries":[{"matchers":[{"type":"$mtype","name":"__name__","value":"cpu"}]}]}""")
    val notSnappy = Some(Array[Byte](0x63, 0x10, 0x41))
    val form = Seq("Content-Type" -> "application/x-www-form-urlencoded")
    val snappy = Seq("Content-Encoding" -> "snappy",
      "Content-Type" -> "application/x-protobuf")
    val at = "&time=2024-01-01T10:02:00Z"
    val json = "application/json"
    val exposition = "text/plain; version=0.0.4; charset=utf-8"
    // family, request, then the expected status, Content-Type, Content-Encoding
    val cases = Seq[(String, String, Option[Array[Byte]], Seq[(String, String)], Int, String, Option[String])](
      ("JSON GET", "/api/v1/query?query=cpu" + at, None, Nil, 200, json, None),
      ("JSON GET", "/api/v1/query?query=cpu", None, Nil, 400, json, None),
      ("form POST", "/api/v1/query", bytes("query=cpu" + at), form, 200, json, None),
      ("form POST", "/api/v1/query", bytes("query=sum%28" + at), form, 400, json, None),
      ("remote write", "/api/v1/write", bytes(writeBody("w", 5L, 1.0)), Nil, 200, json, None),
      ("remote write", "/api/v1/write", notSnappy, snappy, 400, json, None),
      ("OTLP", "/api/v1/otlp/v1/metrics", otlp("1704103290000000000"), Nil, 200, json, None),
      ("OTLP", "/api/v1/otlp/v1/metrics", otlp("soon"), Nil, 400, json, None),
      ("remote read pb", "/api/v1/read", readPb, snappy, 200, "application/x-protobuf",
        Some("snappy")),
      ("remote read pb", "/api/v1/read", notSnappy, snappy, 400, json, None),
      ("remote read JSON", "/api/v1/read", readJson("EQ"), Nil, 200, json, None),
      ("remote read JSON", "/api/v1/read", readJson("XX"), Nil, 400, json, None),
      ("federate", "/federate?match[]=cpu" + at, None, Nil, 200, exposition, None),
      ("federate", "/federate?time=2024-01-01T10:02:00Z", None, Nil, 400,
        "text/plain; charset=utf-8", None),
      // /metrics reads no request input, so no request can make it fail
      ("metrics", "/metrics", None, Nil, 200, exposition, None))
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(cpuSource))
      try cases.foreach { case (family, path, body, headers, code, ctype, cenc) =>
        val (c, ct, ce, b) = exchange(srv.boundPort, path, body, headers)
        val text = new String(b, "UTF-8")
        assert((c, ct, ce) == ((code, ctype, cenc)), s"$family $path: $text")
        if (c != 200 && ct == json)
          assert(text.startsWith("""{"status":"error","errorType":"bad_data","error":"""),
            s"$family: $text")
      } finally srv.close()
    }
  }

  test("paths: a context serves its exact path, /api/v1/label/ its subtree, others 404") {
    val notFound = (404, "text/plain; charset=utf-8", None, "404 page not found\n")
    Observed.use(spark) { obs =>
      // no exemplar frame: /api/v1/query_exemplars has no endpoint
      val srv = new MetricsServer(obs, promSource = Some(cpuSource))
      try {
        Seq("/api/v1/query_exemplars?query=cpu&start=0&end=9999999999",
            "/api/v1/labelsXYZ", "/api/v1/queryx?query=cpu&time=0", "/nope")
          .foreach { path =>
            val (c, ct, ce, b) = exchange(srv.boundPort, path)
            assert((c, ct, ce, new String(b, "UTF-8")) == notFound, path)
          }
        val (cv, bv) = call(srv.boundPort, "/api/v1/label/user_id/values")
        assert(cv == 200 && bv == """{"status":"success","data":["1"]}""", bv)
        val (cl, bl) = call(srv.boundPort, "/api/v1/labels")
        assert(cl == 200 && bl.contains("user_id"), bl)
      } finally srv.close()
    }
  }

  test("/federate without match[] names the parameter as /api/v1/series does") {
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs, promSource = Some(cpuSource))
      try {
        val (cf, bf) = call(srv.boundPort, "/federate?time=2024-01-01T10:02:00Z")
        assert(cf == 400 && bf == "missing 'match[]' parameter\n", bf)
        val (cs, bs) = call(srv.boundPort, "/api/v1/series")
        assert(cs == 400 && bs.contains(""""error":"missing 'match[]' parameter""""), bs)
      } finally srv.close()
    }
  }

  test("nodelay: keep-alive replies wait for no delayed ACK, whatever ran first") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    Observed.use(spark) { obs =>
      val srv = new MetricsServer(obs)
      try {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        val req = HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${srv.boundPort}/api/v1/format_query?query=sum(cpu)")).build()
        val ms = (1 to 20).map { _ =>
          val t0 = System.nanoTime()
          val r = client.send(req, HttpResponse.BodyHandlers.ofString())
          assert(r.statusCode == 200, r.body)
          (System.nanoTime() - t0) / 1e6
        }.sorted
        val median = (ms(9) + ms(10)) / 2
        // with Nagle on, every body segment waits ~40 ms for the ACK
        assert(median < 20.0, s"median ${median} ms over ${ms.mkString(", ")}")
        assert(sys.props.get("sun.net.httpserver.nodelay").contains("true"))
      } finally srv.close()
    }
  }
}
