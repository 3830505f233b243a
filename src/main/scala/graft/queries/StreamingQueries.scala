package graft.queries

import graft.Tables
import graft.anomaly.Threshold
import graft.stream.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming surface (SURVEY §2 E41–E47). Each query replays the events
  * table through a MemoryStream, runs a Structured Streaming pipeline to
  * completion, then returns a deterministic batch aggregation of the
  * committed sink table. The replay is deterministic end-to-end, so every
  * query carries a full DuckDB oracle (the streaming result equals its
  * batch-SQL twin); s59 needs the flushTail watermark sentinel to close
  * its final sessions first (append mode holds them back otherwise).
  *
  * Replay runs ONE event chunk per query: the committed result is
  * chunk-count-invariant (each operator's semantics depend only on
  * event-time order, which the replay fixes globally), and every extra
  * micro-batch pays a full state-store commit + offset-log fsync cycle —
  * pure harness overhead that was 32% of the round-4 bench. Multi-batch
  * semantics (watermark advancement ACROSS batches, state carry-over,
  * late-drop) stay covered by StreamSpec's 3-chunk replays.
  */
object StreamingQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E41+E42: watermark + tumbling event-time windows.
    "s57_stream_tumbling" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s57_sink", 1)(
        StreamOps.tumblingAgg, OutputMode.Complete)
      t.select(col("window.start").as("win_start"), col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // E44/P4: streaming dedup within watermark.
    "s58_stream_dedup" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s58_sink", 1)(
        ds => StreamOps.streamingDedup(ds).drop("day"), OutputMode.Append)
      t.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("event_type"))
    }),

    // E43: session windows (30-min gap). flushTail: a watermark-advancing
    // sentinel (user_id −1, filtered below) closes the final sessions that
    // append mode would otherwise hold back at stop — making the committed
    // sink equal to full batch sessionization, hence oracle-checkable.
    "s59_stream_sessions" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s59_sink", 1, flushTail = true)(
        StreamOps.sessionize _, OutputMode.Append)
      t.filter(col("user_id") >= 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // E45/P3: exact-12 stateful window assembler (flatMapGroupsWithState).
    "s60_stream_assembler" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s60_sink", 1)(
        ds => StreamOps.assembler(ds, 12).toDF(), OutputMode.Append)
      // Decimal-summed (not averaged) win_means: pre-rounded decimal sums
      // are exact in both engines, dodging FP shuffle-order drift (the q41
      // pattern).
      t.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_windows"),
          round(sum(round(col("win_mean"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_win_mean"))
        .orderBy(col("event_type"))
    }),

    // The reference's full vertex chain as ONE streaming plan (P2→P3→P6→
    // P7→P8): exact-12 assembly (stateful) → model join → threshold score
    // → tanh norm, then a deterministic batch rollup of the sink.
    "s73_stream_pipeline" -> ((s, d) => {
      val model = Threshold.fit(Tables.events(s, d), Seq("event_type"), "value", 3.0)
        .select(col("event_type"), col("threshold"))
      val t = StreamOps.replayEvents(s, d, "s73_sink", 1)(
        ds => StreamOps.assembler(ds, 12).toDF()
          .join(broadcast(model), "event_type")
          .withColumn("score", graft.anomaly.AnomalyOps.tanhNorm(
            graft.anomaly.Threshold.score(col("win_mean"), col("threshold")))),
        OutputMode.Append)
      t.groupBy(date_trunc("day", col("end_ts")).as("day"))
        .agg(count(lit(1)).as("n_windows"),
          round(max(col("score")), 6).as("max_score"),
          round(sum(round(col("score"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_score"))
        .orderBy(col("day"))
    }),

    // P1 stream-in via the custom DSv2 micro-batch connector: the range is
    // served 6h per trigger behind a time-based offset; complete-mode agg
    // over the drained stream equals the batch read, so the oracle is the
    // same SQL as the batch q77.
    "s78_stream_prom_source" -> ((s, d) => {
      // The one query that starts its stream directly, on the same replay
      // plumbing as StreamOps.replayEvents (4 state partitions for 3
      // series × 24 hourly groups, checkpoint on tmpfs). Aggregation
      // results are partition-count-invariant.
      StreamOps.runToMemory(s, "s78_sink",
        s.readStream.format("graft.sources.PromRangeSource")
          .option("start", "1704067200").option("end", "1704153600")
          .option("stepSeconds", "60").option("series", "cpu,mem,disk")
          .option("batchSeconds", "21600")
          .load()
          .groupBy(col("series"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value").cast("decimal(18,1)")).cast("double"), 1).as("sum_value")),
        OutputMode.Complete)(_.processAllAvailable())
        .orderBy(col("series"), col("hour"))
    }),

    // PromQL increase()/resets() as a stateful stream (O(1) state per
    // series); the committed sink equals the batch lag-window form, so the
    // oracle is the same SQL as q89.
    "s94_stream_increase" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s94_sink", 1)(
        ds => StreamOps.streamingIncrease(ds).toDF(), OutputMode.Append)
      t.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("reset")).cast("long").as("n_resets"),
          round(sum(round(col("inc"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_increase"))
        .orderBy(col("event_type"), col("day"))
    }),

    // P6 streaming face with TRAINED models: stateful window assembly →
    // stream–static left join against the PCA registry (trained on the
    // pre-cutoff batch, resolved as-of, with 'error' withheld to exercise
    // the static-fallback path) → reconstruction error where fitted,
    // static-threshold score where not. The oracle pins the
    // SQL-expressible faces exactly — window counts per (key, path) and
    // the decimal-summed static-path scores; fitted-path recon values are
    // FP-iteration outputs (same declared policy as q98) and their
    // streaming-vs-batch equality is pinned in StreamSpec instead.
    "s112_stream_pca_score" -> ((s, d) => {
      val cutoff = lit("2024-01-15").cast("timestamp")
      val wins = graft.anomaly.AnomalyOps.assembleWindows(Tables.events(s, d),
        Seq("user_id", "event_type"), "ts", "event_id", "value", 12)
      val registry = graft.anomaly.Pca.fit(wins.filter(col("ts") < cutoff),
          "event_type", "win_arr", dim = 12, k = 3)
        .filter(col("event_type") =!= "error")
        .withColumn("trained_at", lit("2024-01-14").cast("timestamp"))
      val resolved = graft.registry.ModelRegistry
        .latestAsOf(registry, Seq("event_type"), cutoff)
      val t = StreamOps.replayEvents(s, d, "s112_sink", 1)(
        ds => StreamOps.streamPcaScore(ds, resolved, staticLimit = 250.0),
        OutputMode.Append)
      t.groupBy(col("event_type"), col("model_source"))
        .agg(count(lit(1)).as("n_windows"),
          round(sum(when(col("model_source") === "static",
              round(col("score"), 6).cast("decimal(18,6)"))
            .otherwise(lit(0).cast("decimal(18,6)")))
            .cast("double"), 4).as("sum_static_score"))
        .orderBy(col("event_type"), col("model_source"))
    }),

    // P6 streaming face of the TRUE nonlinear autoencoder (q268's twin):
    // stateful window assembly through the replay harness, then the same
    // closed-form-trained Ae model broadcast onto the stream. Unlike
    // s112's PCA path, the AE is exactly reproducible in SQL, so this
    // streaming row is FULLY hash-green — committed sink equals the
    // batch q268 result, which is precisely the stream-batch parity
    // claim (shared oracle, the s94/q89 precedent).
    "s269_stream_ae_score" -> ((s, d) =>
      AnomalyQueries.aeRecon(s, d, batch = false)),

    // E46/P13+P6: stream–static model join scoring each arriving event.
    "s61_stream_static_score" -> ((s, d) => {
      val model = Threshold.fit(Tables.events(s, d), Seq("event_type"), "value", 3.0)
        .select(col("event_type"), col("threshold"))
      val t = StreamOps.replayEvents(s, d, "s61_sink", 1)(
        ds => StreamOps.streamStaticScore(ds, model), OutputMode.Append)
      t.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("score"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_score"))
        .orderBy(col("event_type"))
    }),

    // Multivariate co-windowing, streaming face: the [4 × 3]
    // click/view/purchase window matrix assembled statefully per user
    // (hourly steps, carry-forward, close-on-advance), flushed per key at
    // end-of-replay so the committed sink equals the batch assembly —
    // the SAME oracle SQL as the batch q129 twin.
    "s130_stream_multivar_window" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s130_sink", 1, flushPerUser = true)(
        ds => StreamOps.coWindowStream(ds, Seq("click", "view", "purchase"), 4).toDF(),
        OutputMode.Append)
      AnomalyQueries.matProjection(t)
    }),

    // N-R48's streaming face: the pending→firing state machine evaluated
    // continuously per event_type — hourly condition "any event with
    // value > 100", for = 2h, close-on-advance with per-type flush. The
    // deterministic replay makes the committed ALERTS sink equal the
    // batch gaps-and-islands twin row-for-row.
    "s149_stream_alert_rules" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s149_sink", 2, flushPerType = true)(
        ds => StreamOps.streamAlertRule(ds, threshold = 100.0, minCount = 1L,
          forSec = 2 * 3600L).toDF(),
        OutputMode.Append)
      t.select(col("event_type"), col("step_ts"), col("alertstate"),
          round(col("value"), 6).as("value"))
        .orderBy(col("event_type"), col("step_ts"))
    }),

    // N-R71 on a live stream: the relabel chain is stateless column math,
    // so it composes with the one allowed streaming aggregation untouched
    // — hashmod-shard + keep-filter + uppercase run map-side per batch,
    // the Complete-mode count/sum agg is the only stateful stage. The
    // oracle replicates the exact sum64(md5) shard rule in SQL.
    "s160_stream_relabel" -> ((s, d) => {
      import graft.metrics.Relabel
      import graft.metrics.Relabel.Rule
      val t = StreamOps.replayEvents(s, d, "s160_sink", 1)(
        ds => Relabel(ds.toDF(), Seq(
            Rule("hashmod", Seq("user_id"), targetLabel = "shard", modulus = 4),
            Rule("keep", Seq("event_type"), regex = "click|error"),
            Rule("uppercase", Seq("event_type"), targetLabel = "etype_uc")))
          .groupBy(col("shard"), col("etype_uc"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value"), 6).cast("decimal(18,6)")).as("sv")),
        OutputMode.Complete)
      t.select(col("shard"), col("etype_uc"), col("n"),
          round(col("sv").cast("double"), 4).as("sum_value"))
        .orderBy(col("shard"), col("etype_uc"))
    }),

    // N-R55: streaming native-histogram build — the stage-1 per-bucket
    // pre-aggregation (the ONLY aggregation a streaming plan allows) runs
    // keyed by (6h tumbling window, event_type, sign, bucket idx); the
    // committed bucket rows are then assembled into sparse histograms and
    // analyzed batch-side, the deployment shape for histogram ingestion
    // at scale (streams emit bucket partials, compaction owns arrays).
    "s141_stream_native_histogram" -> ((s, d) => {
      import graft.metrics.NativeHistogram
      val t = StreamOps.replayEvents(s, d, "s141_sink", 1)(
        ds => NativeHistogram.bucketCounts(
          ds.toDF(), Seq(window(col("ts"), "6 hours"), col("event_type")),
          "value", schema = 2),
        OutputMode.Complete)
      val perBucket = t.select(col("window.start").as("win_start"),
        col("event_type"), col("__sign"), col("__idx"), col("__cnt"), col("__sum"))
      val h = NativeHistogram.assemble(perBucket,
        Seq("win_start", "event_type"), schema = 2)
      val exactSum = round(col("sum"), 2)
      val mean = exactSum / col("count")
      h.select(
        col("win_start"), col("event_type"),
        col("count").cast("long").as("n_samples"),
        size(col("pos")).as("n_buckets"),
        exactSum.as("sum_value"),
        round(NativeHistogram.histogramQuantile(0.5), 6).as("p50"),
        round(NativeHistogram.histogramQuantile(0.9), 6).as("p90"),
        round(NativeHistogram.histogramStddev(meanCol = Some(mean)), 4).as("stddev"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // N-R86 streaming face: a live OTLP/JSON export stream. Documents are
    // pre-rendered deterministically (per-user, two days, dotted names),
    // replayed through MemoryStream[String]; Otlp.parse is stateless
    // column math (from_json + explodes compose with streaming), the one
    // allowed aggregation is the Complete-mode per-metric rollup.
    "s171_stream_otlp" -> ((s, d) => {
      import graft.sources.Otlp
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
      val docs = Otlp.render(ev, col("user_id"),
          concat(lit("app.events."), col("event_type")),
          col("ts"), col("value"), Seq("user" -> col("user_id")))
        .orderBy(col("__doc")).select(col("json")).as[String].collect().toSeq
      val t = StreamOps.replayStrings(s, "s171_sink", docs, 3)(ds =>
        Otlp.parse(ds.toDF("json"))
          .groupBy(col("metric"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value"), 6).cast("decimal(18,6)")).as("sv"),
            max(col("ts")).as("max_ts")),
        OutputMode.Complete)
      t.select(col("metric"), col("n"),
          round(col("sv").cast("double"), 4).as("sum_value"), col("max_ts"))
        .orderBy(col("metric"))
    }),

    // N-R96 streaming face: online CUSUM with offline-trained (μ, σ) —
    // stats from one batch pass (integer moments, model-sized collect),
    // the recursion at the edge in exact 1e-6 fixed-point. The sink
    // equals q178's batch prefix-identity twin digit-for-digit.
    // STREAMING HA replica dedup — the production face of q203's batch
    // walk: per-cluster flatMapGroupsWithState holds (elected, last-seen,
    // counters, fixed-point value sum) and walks samples in the SAME
    // (µs, event_id) total order the batch fold and the oracle use.
    // Matching the batch twin exactly also proves the batch side's
    // run-compression is equivalence-preserving.
    "s204_stream_ha_dedup" -> ((s, d) => {
      val silentFrom = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
      val silentTo = java.time.Instant.parse("2024-01-14T00:00:00Z").toEpochMilli
      val repOf: graft.stream.Ev => String = { e =>
        val ms = e.ts.getTime
        if (ms >= silentFrom && ms < silentTo) "r2"
        else {
          // hand-formatted UTC hour key: DateTimeFormatter is not
          // serializable, and the closure ships to executors
          val t = java.time.LocalDateTime.ofEpochSecond(
            ms / 1000, 0, java.time.ZoneOffset.UTC)
          val hh = f"${t.getYear}%04d-${t.getMonthValue}%02d-" +
            f"${t.getDayOfMonth}%02d-${t.getHour}%02d"
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(("ha|" + e.event_type + "|" + hh).getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          if (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 3 < 2) "r1"
          else "r2"
        }
      }
      val t = StreamOps.replayEvents(s, d, "s204_sink", 3, flushPerType = true)(
        ds => StreamOps.streamHaDedup(ds, repOf, 10800L).toDF(),
        OutputMode.Append)
      t.select(col("event_type"), col("elected_final"), col("n_elections"),
          col("n_accepted"), col("n_rejected"), col("sum_accepted"))
        .orderBy(col("event_type"))
    }),

    // STREAMING out-of-order ingestion — q216's OOO-head classification
    // run ONLINE with the head appender's O(1) per-series registers
    // (maxTime + counters). Matching the batch twin digit for digit also
    // PROVES the batch query's running-max identity holds under
    // micro-batched arrival (3 chunks here). n_unique_ts is batch-only:
    // the ingest path never dedups timestamps (the merge iterator does,
    // at read), so the streaming face doesn't carry it.
    "s221_stream_ooo" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s221_sink", 3, flushPerType = true)(
        ds => StreamOps.streamOooIngest(ds, 3600L).toDF(), OutputMode.Append)
      t.select(col("event_type"), col("n_in_order"), col("n_ooo"),
          col("n_too_old"), col("sum_merged"), col("max_accepted_us"))
        .orderBy(col("event_type"))
    }),

    // ONLINE delta→cumulative (q249's streaming face): one running
    // total per (metric, bucket) in exact fixed point, every delta
    // point yielding a cumulative point; the sink spot-checks every
    // 100th cumulative value as it happens plus the final total —
    // both must land exactly on the batch running-sum twin's ranks.
    "s250_stream_delta_cumulative" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s250_sink", 3, flushPerType = true)(
        ds => StreamOps.streamDeltaToCumulative(ds).toDF(), OutputMode.Append)
      t.select(col("event_type"), col("bucket"), col("which"), col("rn"),
          col("cum"))
        .orderBy(col("event_type"), col("bucket"), col("which"), col("rn"))
    }),

    // RESTART-AWARE online delta→cumulative (q254's streaming face): the
    // running total resets when a point's accumulation epoch changes
    // (epoch boundary 2024-01-10 01:00 — q254's hourly start_ts-change
    // rule at raw grain), the pre-restart peak latches at the reset, and
    // the flushed per-series summary must land digit-for-digit on the
    // batch segment sums the oracle computes from the raw table.
    "s263_stream_delta_restart" -> ((s, d) => {
      val mid = java.time.Instant.parse("2024-01-10T01:00:00Z").toEpochMilli
      val t = StreamOps.replayEvents(s, d, "s263_sink", 3, flushPerType = true)(
        ds => StreamOps.streamDeltaToCumulativeRestarts(ds, mid).toDF(),
        OutputMode.Append)
      t.select(col("event_type"), col("bucket"), col("n_points"),
          col("cum_premid"), col("cum_final"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ONLINE stale-marker synthesis on scrape gaps — the scrape-loop
    // half of q238's staleness story: per (metric, instance) registers
    // track the last present hour; a jump of ≥2 hours is a missed-scrape
    // gap where upstream writes a stale marker at the first absent hour.
    // Arrival order = event time (the replay sort), so the online walk
    // must equal the batch lag-over-distinct-hours twin exactly.
    "s242_stream_stale_gaps" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s242_sink", 3, flushPerType = true)(
        ds => StreamOps.streamStaleGaps(ds).toDF(), OutputMode.Append)
      t.select(col("event_type"), col("instance"), col("n_hours"),
          col("n_gaps"), col("n_missed_hours"), col("first_h_ms"),
          col("last_h_ms"))
        .orderBy(col("event_type"), col("instance"))
    }),

    // STREAMING per-tenant series limiter — q217's cap enforced ONLINE:
    // the state is the Mimir ingester's own memory shape (the series
    // admission map + counters), and since replay order is arrival
    // order, the admitted set equals the batch twin's first-seen rank
    // exactly — the q217 oracle verifies this sink digit for digit.
    "s225_stream_tenant_limits" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s225_sink", 3, flushPerUser = true)(
        ds => StreamOps.streamTenantLimits(ds, 150L).toDF(), OutputMode.Append)
      t.select(col("tenant"), col("event_type"), col("n_series"),
          col("n_series_accepted"), col("n_samples"),
          col("n_samples_accepted"), col("n_samples_discarded"),
          col("sum_accepted"))
        .orderBy(col("tenant"), col("event_type"))
    }),

    // STREAMING Gorilla/XOR chunk encoding — q201's codec run ONLINE
    // with the Prometheus head appender's per-series O(1) registers;
    // chunks cut at 120 samples emit their closed bit costs, the open
    // head chunk stays in state (upstream behavior — so the twin
    // compares CLOSED chunks only). Matching the batch fold digit for
    // digit proves the codec is genuinely streamable.
    "s208_stream_gorilla_chunks" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s208_sink", 3)(
        ds => StreamOps.streamXorChunks(ds).toDF(), OutputMode.Append)
      t.select(col("event_type"), col("shard"), col("chunk"),
          col("n_samples"), col("ts_bits"), col("val_bits"),
          col("n_xor_zero"), col("n_window_reuse"), col("n_new_window"))
        .orderBy(col("event_type"), col("shard"), col("chunk"))
    }),

    "s179_stream_cusum" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      val stats = hourly.groupBy(col("event_type"))
        // decimal second moment — the same long*long wrap-guard as q177/q178
        .agg(count(lit(1)).as("n"), sum(col("cnt")).as("sm"),
          sum(col("cnt").cast("decimal(19,0)") *
            col("cnt").cast("decimal(19,0)")).as("ss"))
        .collect().map { r =>
          val n = r.getLong(1); val sm = r.getLong(2)
          val ss = r.getDecimal(3).doubleValue()
          val mu = sm.toDouble / n
          r.getString(0) -> (mu, math.sqrt(ss / n - mu * mu))
        }.toMap
      val t = StreamOps.replayEvents(s, d, "s179_sink", 1, flushPerType = true)(
        ds => StreamOps.streamCusum(ds, stats).toDF(), OutputMode.Append)
      t.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          round(max(col("cusum")), 4).as("max_cusum"),
          sum(when(col("cp"), 1).otherwise(0)).as("n_cp_hours"),
          min(when(col("cp"), col("h"))).as("first_cp"))
        .orderBy(col("event_type"))
    }),

    // Prometheus REMOTE-WRITE streaming ingestion (the reference's actual
    // ingest wire, CHANGELOG.md:353 prometheus-serde): events rendered
    // into WriteRequest documents (one per user, one timeseries per
    // metric+labels, ms timestamps), replayed as a 3-chunk stream, parsed
    // back by the zero-UDF RemoteWrite.parse, aggregated per metric.
    // Render → parse is the identity on samples up to the wire's
    // MILLISECOND timestamp unit, so the twin is the raw-events rollup
    // with ms-truncated timestamps. The label map round-trips: max(user)
    // is read back out of the parsed label map, not the raw column.
    "s184_stream_remote_write" -> ((s, d) => {
      import graft.sources.RemoteWrite
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
      val docs = RemoteWrite.render(ev, col("user_id"),
          concat(lit("app_events_"), col("event_type")),
          col("ts"), col("value"), Seq("user" -> col("user_id")))
        .orderBy(col("__doc")).select(col("json")).as[String].collect().toSeq
      val t = StreamOps.replayStrings(s, "s184_sink", docs, 3)(ds =>
        RemoteWrite.parse(ds.toDF("json"))
          .groupBy(col("metric"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value"), 6).cast("decimal(18,6)")).as("sv"),
            max(col("ts")).as("max_ts"),
            max(element_at(col("labels"), "user").cast("long")).as("max_user")),
        OutputMode.Complete)
      t.select(col("metric"), col("n"),
          round(col("sv").cast("double"), 4).as("sum_value"),
          col("max_ts"), col("max_user"))
        .orderBy(col("metric"))
    }),

    // STREAMING Thanos downsampling — the live face of q158: 5m aggr
    // chunks (count/decimal-sum/min/max/last-by-(ts,ord) counter) built
    // as ONE streaming windowed aggregation over the replay, then the
    // committed chunk table rolls up through the SAME batch reAggregate
    // to hourly — so the sink must equal the batch raw→5m→1h chain, and
    // the oracle is q158's SQL verbatim. This is the deployment shape:
    // the edge holds only open 5m windows of state per series, and the
    // store compacts chunks, never raw samples.
    "s191_stream_downsample" -> ((s, d) => {
      val t = StreamOps.replayEvents(s, d, "s191_sink", 2)(
        ds => ds.toDF()
          .filter(col("ts") >= lit("2024-01-12").cast("timestamp") &&
            col("ts") < lit("2024-01-13").cast("timestamp"))
          .groupBy(col("event_type"),
            window(col("ts"), "5 minutes").getField("start").as("chunk_ts"))
          .agg(count(lit(1)).as("c_count"),
            sum(round(col("value"), 6).cast("decimal(18,6)"))
              .cast("double").as("c_sum"),
            min(col("value")).as("c_min"),
            max(col("value")).as("c_max"),
            max_by(col("value"), struct(col("ts"), col("event_id")))
              .as("c_counter")),
        OutputMode.Complete)
      graft.metrics.Downsample.reAggregate(t, Seq("event_type"), "1 hour")
        .select(col("event_type"), col("w_ts"), col("n"),
          round(col("v_avg"), 6).as("v_avg"),
          round(col("v_min"), 6).as("v_min"),
          round(col("v_max"), 6).as("v_max"),
          round(col("v_counter"), 6).as("v_counter"))
        .orderBy(col("event_type"), col("w_ts"))
    })
  )

  /** Batch-SQL twins of the streaming plans. The replay harness processes
    * every event exactly once in event-time order with no late drops, so
    * each committed sink table equals the corresponding batch query over
    * the same events — which is exactly what a DuckDB oracle can check.
    * (s59 excluded: append-mode sessions inside the final watermark never
    * emit, so no batch SQL matches its tail.) */
  val oracle: Map[String, String] = Map(
    // q201's bit-exact walk at CHUNK grain, closed chunks only.
    "s208_stream_gorilla_chunks" ->
      """WITH RECURSIVE s AS (
        |  SELECT event_type, user_id % 5 AS shard, epoch_us(ts) // 1000 AS t_ms,
        |    event_id, CAST(round(value, 0) AS BIGINT) AS vi
        |  FROM events
        |), seq AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, shard
        |      ORDER BY t_ms, event_id) - 1 AS seqn
        |  FROM s
        |), ch AS (
        |  SELECT event_type, shard, seqn // 120 AS chunk, seqn % 120 AS idx,
        |    t_ms, event_id, vi
        |  FROM seq
        |), tsb AS (
        |  SELECT *, lag(t_ms, 1) OVER w AS t1, lag(t_ms, 2) OVER w AS t2
        |  FROM ch
        |  WINDOW w AS (PARTITION BY event_type, shard, chunk ORDER BY t_ms, event_id)
        |), tcost AS (
        |  SELECT event_type, shard, chunk, idx, vi,
        |    CASE WHEN idx = 0 THEN ((len(bin(t_ms * 2)) + 6) // 7) * 8
        |         WHEN idx = 1 THEN ((len(bin((t_ms - t1) * 2)) + 6) // 7) * 8
        |         WHEN t_ms - 2 * t1 + t2 = 0 THEN 1
        |         WHEN t_ms - 2 * t1 + t2 BETWEEN -8191 AND 8192 THEN 16
        |         WHEN t_ms - 2 * t1 + t2 BETWEEN -65535 AND 65536 THEN 20
        |         WHEN t_ms - 2 * t1 + t2 BETWEEN -524287 AND 524288 THEN 24
        |         ELSE 68 END AS ts_bits
        |  FROM tsb
        |), vb AS (
        |  SELECT event_type, shard, chunk, idx,
        |    CASE WHEN vi = 0 THEN 0
        |         ELSE ((1023 + len(bin(vi)) - 1)::BIGINT << 52)
        |              + ((vi << (52 - (len(bin(vi)) - 1))) - (1::BIGINT << 52))
        |    END AS bits
        |  FROM tcost
        |), walk AS (
        |  SELECT event_type, shard, chunk, idx, bits AS prev,
        |    255 AS lead, 0 AS trail, 64::BIGINT AS acc,
        |    0::BIGINT AS nzero, 0::BIGINT AS nreuse, 0::BIGINT AS nnew
        |  FROM vb WHERE idx = 0
        |  UNION ALL
        |  SELECT event_type, shard, chunk, idx, bits,
        |    CASE WHEN xr = 0 OR reuse THEN lead ELSE lz END,
        |    CASE WHEN xr = 0 OR reuse THEN trail ELSE tz END,
        |    acc + CASE WHEN xr = 0 THEN 1
        |               WHEN reuse THEN 2 + 64 - lead - trail
        |               ELSE 13 + 64 - lz - tz END,
        |    nzero + CASE WHEN xr = 0 THEN 1 ELSE 0 END,
        |    nreuse + CASE WHEN xr <> 0 AND reuse THEN 1 ELSE 0 END,
        |    nnew + CASE WHEN xr <> 0 AND NOT reuse THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT q.*, (lead <> 255 AND lz >= lead AND tz >= trail) AS reuse
        |    FROM (
        |      SELECT p.*,
        |        least(CASE WHEN xr < 0 THEN 0 ELSE 64 - len(bin(xr)) END, 31) AS lz,
        |        CASE WHEN xr = 0 THEN 64
        |             ELSE len(bin(xr)) - len(rtrim(bin(xr), '0')) END AS tz
        |      FROM (
        |        SELECT v.event_type, v.shard, v.chunk, v.idx, v.bits,
        |          w.lead, w.trail, w.acc, w.nzero, w.nreuse, w.nnew,
        |          xor(w.prev, v.bits) AS xr
        |        FROM walk w JOIN vb v ON v.event_type = w.event_type
        |          AND v.shard = w.shard AND v.chunk = w.chunk AND v.idx = w.idx + 1
        |      ) p
        |    ) q
        |  )
        |), done AS (
        |  SELECT event_type, shard, chunk,
        |    arg_max(acc, idx) AS val_bits, arg_max(nzero, idx) AS n_xor_zero,
        |    arg_max(nreuse, idx) AS n_window_reuse, arg_max(nnew, idx) AS n_new_window
        |  FROM walk GROUP BY 1, 2, 3
        |), tchunk AS (
        |  SELECT event_type, shard, chunk, count(*) AS n_samples,
        |    sum(ts_bits) AS ts_bits
        |  FROM tcost GROUP BY 1, 2, 3
        |), per AS (
        |  SELECT t.event_type, t.shard, t.chunk, t.n_samples, t.ts_bits, d.val_bits,
        |    d.n_xor_zero, d.n_window_reuse, d.n_new_window
        |  FROM tchunk t JOIN done d USING (event_type, shard, chunk)
        |)
        |SELECT event_type, CAST(shard AS BIGINT) AS shard, chunk,
        |  CAST(n_samples AS BIGINT) AS n_samples, CAST(ts_bits AS BIGINT) AS ts_bits,
        |  val_bits, n_xor_zero, n_window_reuse, n_new_window
        |FROM per WHERE n_samples = 120
        |ORDER BY event_type, shard, chunk""".stripMargin,

    // q203's run-compressed election walk, minus the batch-only n_runs
    // column — the streaming sink must land exactly on it.
    // q217's oracle verbatim: the streaming limiter must reproduce the
    // batch admission rank exactly (arrival order = first-seen order).
    "s225_stream_tenant_limits" ->
      """WITH series AS (
        |  SELECT 't' || (user_id % 3) AS tenant, event_type, user_id,
        |    min(event_id) AS first_seen, count(*) AS n_samp,
        |    sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS sum_v
        |  FROM events GROUP BY 1, 2, 3
        |), admitted AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY tenant ORDER BY first_seen) <= 150 AS accepted
        |  FROM series
        |)
        |SELECT tenant, event_type,
        |  count(*) AS n_series,
        |  CAST(sum(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_series_accepted,
        |  CAST(sum(n_samp) AS BIGINT) AS n_samples,
        |  CAST(sum(CASE WHEN accepted THEN n_samp ELSE 0 END) AS BIGINT)
        |    AS n_samples_accepted,
        |  CAST(sum(CASE WHEN NOT accepted THEN n_samp ELSE 0 END) AS BIGINT)
        |    AS n_samples_discarded,
        |  round(CAST(sum(CASE WHEN accepted THEN sum_v
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 4) AS sum_accepted
        |FROM admitted GROUP BY 1, 2 ORDER BY tenant, event_type""".stripMargin,

    // The batch twin: exact running decimal sums per (metric, bucket)
    // sampled at ranks 100, 200, … plus the per-bucket totals.
    "s250_stream_delta_cumulative" ->
      """WITH s AS (
        |  SELECT event_type, CAST(user_id % 3 AS VARCHAR) AS bucket,
        |    ts, event_id, CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events
        |), r AS (
        |  SELECT event_type, bucket,
        |    row_number() OVER w AS rn,
        |    sum(v) OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s WINDOW w AS (PARTITION BY event_type, bucket
        |    ORDER BY ts, event_id)
        |), marks AS (
        |  SELECT event_type, bucket, 'spot' AS which, rn,
        |    round(CAST(cum AS DOUBLE), 4) AS cum
        |  FROM r WHERE rn % 100 = 0
        |  UNION ALL
        |  SELECT event_type, bucket, 'final', count(*),
        |    round(CAST(sum(v) AS DOUBLE), 4)
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT event_type, bucket, which, CAST(rn AS BIGINT) AS rn, cum
        |FROM marks ORDER BY event_type, bucket, which, rn""".stripMargin,

    // Batch segment sums at the same epoch boundary: pre-restart peak =
    // the pre-boundary sum (0 when a series starts after it), final =
    // the post-boundary segment only (full sum when never restarted).
    "s263_stream_delta_restart" ->
      """WITH s AS (
        |  SELECT event_type, CAST(user_id % 3 AS VARCHAR) AS bucket,
        |    ts, CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events
        |)
        |SELECT event_type, bucket, count(*) AS n_points,
        |  round(CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP
        |    '2024-01-10 01:00:00' THEN v END), 0) AS DOUBLE), 4)
        |    AS cum_premid,
        |  round(CAST(coalesce(
        |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-10 01:00:00' THEN v END),
        |    sum(v)) AS DOUBLE), 4) AS cum_final
        |FROM s GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

    // The batch twin: lag over DISTINCT present hours per (metric,
    // instance); a step > 1h is a gap (one marker), the span in hours
    // rides beside it. All-integer — no FP surface.
    "s242_stream_stale_gaps" ->
      """WITH hrs AS (
        |  SELECT DISTINCT event_type, CAST(user_id % 2 AS INT) AS instance,
        |    date_trunc('hour', ts) AS h
        |  FROM events
        |), lagd AS (
        |  SELECT *, lag(h) OVER (PARTITION BY event_type, instance
        |    ORDER BY h) AS ph
        |  FROM hrs
        |)
        |SELECT event_type, instance, count(*) AS n_hours,
        |  CAST(sum(CASE WHEN ph IS NOT NULL AND h > ph + INTERVAL 1 HOUR
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(sum(CASE WHEN ph IS NOT NULL
        |    THEN date_diff('hour', ph, h) - 1 ELSE 0 END) AS BIGINT)
        |    AS n_missed_hours,
        |  CAST(epoch_ms(min(h)) AS BIGINT) AS first_h_ms,
        |  CAST(epoch_ms(max(h)) AS BIGINT) AS last_h_ms
        |FROM lagd GROUP BY 1, 2 ORDER BY event_type, instance""".stripMargin,

    // q216's oracle minus the read-time n_unique_ts column (ingest never
    // dedups timestamps); same fixture, same running-max classification.
    "s221_stream_ooo" ->
      """WITH s AS (
        |  SELECT event_type, event_id, value,
        |    epoch_us(ts) - CAST(CASE WHEN b >= 9 THEN 10800
        |                             WHEN b >= 7 THEN 1800 ELSE 0 END
        |      AS BIGINT) * 1000000 AS t_us
        |  FROM (SELECT *,
        |          CAST(concat('0x', substr(md5('ooo|' || event_id), 1, 6))
        |            AS BIGINT) % 10 AS b
        |        FROM events)
        |), c AS (
        |  SELECT *, max(t_us) OVER (PARTITION BY event_type ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS head_max
        |  FROM s
        |), k AS (
        |  SELECT *, CASE
        |    WHEN head_max IS NULL OR t_us >= head_max THEN 'in_order'
        |    WHEN head_max - t_us <= 3600000000 THEN 'ooo'
        |    ELSE 'too_old' END AS cls
        |  FROM c
        |)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN cls = 'in_order' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in_order,
        |  CAST(sum(CASE WHEN cls = 'ooo' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ooo,
        |  CAST(sum(CASE WHEN cls = 'too_old' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_too_old,
        |  round(CAST(sum(CASE WHEN cls <> 'too_old'
        |    THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE), 4)
        |    AS sum_merged,
        |  max(CASE WHEN cls <> 'too_old' THEN t_us END) AS max_accepted_us
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,

    "s204_stream_ha_dedup" ->
      """WITH RECURSIVE s AS (
        |  SELECT event_type AS cluster, epoch_us(ts) AS t_us,
        |    epoch_us(ts) // 1000000 AS t, event_id,
        |    round(value, 6) AS v,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-14'
        |         THEN 'r2'
        |         WHEN CAST(concat('0x', substr(md5('ha|' || event_type || '|' ||
        |              strftime(ts, '%Y-%m-%d-%H')), 1, 6)) AS BIGINT) % 3 < 2
        |         THEN 'r1' ELSE 'r2' END AS rep
        |  FROM events
        |), m AS (
        |  SELECT *, CASE WHEN lag(rep) OVER w IS NULL OR lag(rep) OVER w <> rep
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM s WINDOW w AS (PARTITION BY cluster ORDER BY t_us, event_id)
        |), rr AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY cluster ORDER BY t_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
        |  FROM m
        |), runs AS (
        |  SELECT cluster, rid, max(rep) AS rep, max(t) AS t_last,
        |    count(*)::BIGINT AS n,
        |    list(struct_pack(t := t, v := CAST(v AS DECIMAL(18,6)))) AS arr
        |  FROM rr GROUP BY 1, 2
        |), walk AS (
        |  SELECT cluster, rid, rep AS elected, t_last AS last,
        |    n AS nacc, 0::BIGINT AS nrej, 1::BIGINT AS nelect,
        |    CAST(coalesce(list_sum(list_transform(arr, x -> x.v)), 0)
        |      AS DECIMAL(28,6)) AS vsum
        |  FROM runs WHERE rid = 1
        |  UNION ALL
        |  SELECT r.cluster, r.rid,
        |    CASE WHEN r.rep = w.elected
        |           OR len(list_filter(r.arr, x -> x.t > w.last + 10800)) > 0
        |         THEN r.rep ELSE w.elected END,
        |    CASE WHEN r.rep = w.elected
        |           OR len(list_filter(r.arr, x -> x.t > w.last + 10800)) > 0
        |         THEN r.t_last ELSE w.last END,
        |    w.nacc + CASE WHEN r.rep = w.elected THEN r.n
        |                  ELSE len(list_filter(r.arr, x -> x.t > w.last + 10800)) END,
        |    w.nrej + CASE WHEN r.rep = w.elected THEN 0
        |                  ELSE r.n - len(list_filter(r.arr, x -> x.t > w.last + 10800)) END,
        |    w.nelect + CASE WHEN r.rep <> w.elected
        |                      AND len(list_filter(r.arr, x -> x.t > w.last + 10800)) > 0
        |                    THEN 1 ELSE 0 END,
        |    CAST(w.vsum + CASE WHEN r.rep = w.elected
        |        THEN coalesce(list_sum(list_transform(r.arr, x -> x.v)), 0)
        |        ELSE coalesce(list_sum(list_transform(
        |               list_filter(r.arr, x -> x.t > w.last + 10800), x -> x.v)), 0)
        |      END AS DECIMAL(28,6))
        |  FROM walk w JOIN runs r ON r.cluster = w.cluster AND r.rid = w.rid + 1
        |)
        |SELECT cluster AS event_type, arg_max(elected, rid) AS elected_final,
        |  arg_max(nelect, rid) AS n_elections, arg_max(nacc, rid) AS n_accepted,
        |  arg_max(nrej, rid) AS n_rejected,
        |  round(CAST(arg_max(vsum, rid) AS DOUBLE), 4) AS sum_accepted
        |FROM walk GROUP BY 1 ORDER BY event_type""".stripMargin,

    // Tumbling 6h windows are epoch-aligned in Spark: bucket by µs-epoch
    // division. Decimal-routed value sum = bit-exact in both engines.
    "s57_stream_tumbling" ->
      """WITH t AS (
        |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS win_start,
        |    event_type, value
        |  FROM events
        |)
        |SELECT win_start, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM t GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    // 30-min-gap sessions ≡ gaps-and-islands: a new session starts where
    // the in-user gap is >= 30 min (session_window's end bound is
    // exclusive). The flushTail sentinel guarantees every session emitted.
    "s59_stream_sessions" ->
      """WITH d AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        |  FROM events
        |)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Within-watermark dedup over ordered replay keeps exactly one row per
    // (user, type, day): the streaming result is a distinct-count.
    "s58_stream_dedup" ->
      """WITH dedup AS (
        |  SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_kept
        |FROM dedup GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Exact-12 assembler ≡ 12-row window frame (emit only full frames);
    // list_sum preserves Spark's left-to-right in-order summation.
    "s60_stream_assembler" ->
      """WITH wins AS (
        |  SELECT event_type,
        |    list(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS win_arr
        |  FROM events
        |), full_wins AS (
        |  SELECT event_type, list_sum(win_arr) / 12.0 AS win_mean
        |  FROM wins WHERE len(win_arr) = 12
        |)
        |SELECT event_type, count(*) AS n_windows,
        |  round(CAST(sum(CAST(round(win_mean, 6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_win_mean
        |FROM full_wins GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Micro-batch connector drained to completion ≡ the batch range read.
    "s78_stream_prom_source" ->
      """WITH s AS (
        |  SELECT unnest(['cpu', 'mem', 'disk']) AS series
        |), secs AS (
        |  SELECT unnest(generate_series(1704067200, 1704153599, 60)) AS sec
        |), samples AS (
        |  SELECT series, make_timestamp(sec * 1000000) AS ts,
        |    (CAST(concat('0x', substr(md5(concat(series, '|', sec)), 1, 12)) AS BIGINT)
        |      % 1000) / 10.0 AS value
        |  FROM s, secs
        |)
        |SELECT series, date_trunc('hour', ts) AS hour, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,1))) AS DOUBLE), 1) AS sum_value
        |FROM samples GROUP BY 1, 2 ORDER BY series, hour""".stripMargin,

    // Streaming PCA scoring: counts per (key, model path) and static-path
    // scores are SQL-expressible. The fitted set is DERIVED from the
    // data — a non-'error' type has a model iff it produced at least one
    // complete 12-window before the cutoff (at sf0.001 some types don't,
    // and correctly fall back to the static path).
    "s112_stream_pca_score" ->
      """WITH numbered AS (
        |  SELECT user_id, event_type, ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn,
        |    list(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS win_arr
        |  FROM events
        |), fitted AS (
        |  SELECT DISTINCT event_type FROM numbered
        |  WHERE rn >= 12 AND ts < TIMESTAMP '2024-01-15' AND event_type <> 'error'
        |), full_wins AS (
        |  SELECT event_type,
        |    event_type IN (SELECT event_type FROM fitted) AS has_model,
        |    list_sum(win_arr) / 12.0 AS win_mean
        |  FROM numbered WHERE len(win_arr) = 12
        |)
        |SELECT event_type,
        |  CASE WHEN has_model THEN 'fitted' ELSE 'static' END AS model_source,
        |  count(*) AS n_windows,
        |  round(CAST(sum(CASE WHEN NOT has_model
        |    THEN CAST(round(least(greatest(win_mean / 250.0, 0.0), 10.0), 6)
        |         AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 4) AS sum_static_score
        |FROM full_wins GROUP BY 1, 2 ORDER BY event_type, model_source""".stripMargin,

    // The streaming AE twin shares q268's generated oracle verbatim —
    // stateful assembly must reproduce the batch windows exactly.
    "s269_stream_ae_score" -> AnomalyQueries.aeReconSql,

    // Stream–static score: every event joins the batch-fitted model.
    "s61_stream_static_score" ->
      """WITH fit AS (
        |  SELECT event_type, avg(value) + 3 * stddev_samp(value) AS threshold
        |  FROM events GROUP BY event_type
        |), scored AS (
        |  SELECT e.event_type,
        |    least(greatest(e.value / (f.threshold + 0.000000001), 0.0), 10.0) AS score
        |  FROM events e JOIN fit f USING (event_type)
        |)
        |SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(round(score, 6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_score
        |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Streaming increase() equals the batch lag-window form (q89's SQL).
    "s94_stream_increase" ->
      """WITH d AS (
        |  SELECT event_type, ts, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev
        |  FROM events
        |), i AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CASE WHEN prev IS NULL THEN 0.0
        |         WHEN value - prev < 0 THEN value
        |         ELSE value - prev END AS inc,
        |    CASE WHEN value - prev < 0 THEN 1 ELSE 0 END AS reset
        |  FROM d
        |)
        |SELECT event_type, day, count(*) AS n_samples,
        |  CAST(sum(reset) AS BIGINT) AS n_resets,
        |  round(CAST(sum(CAST(round(inc, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_increase
        |FROM i GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    // Full vertex chain: assemble → model join → threshold → tanh norm.
    "s73_stream_pipeline" ->
      s"""WITH wins AS (
         |  SELECT user_id, event_type, ts AS end_ts,
         |    list(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
         |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS win_arr
         |  FROM events
         |), full_wins AS (
         |  SELECT event_type, end_ts, list_sum(win_arr) / 12.0 AS win_mean
         |  FROM wins WHERE len(win_arr) = 12
         |), fit AS (
         |  SELECT event_type, avg(value) + 3 * stddev_samp(value) AS threshold
         |  FROM events GROUP BY event_type
         |), scored AS (
         |  SELECT date_trunc('day', end_ts) AS day,
         |    10 * ${AnomalyQueries.sqlTanh(
                 "least(greatest(win_mean / (threshold + 0.000000001), 0.0), 10.0)")} AS score
         |  FROM full_wins JOIN fit USING (event_type)
         |)
         |SELECT day, count(*) AS n_windows, round(max(score), 6) AS max_score,
         |  round(CAST(sum(CAST(round(score, 6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_score
         |FROM scored GROUP BY day ORDER BY day""".stripMargin,

    // streaming ≡ batch co-window assembly: one shared twin (q129)
    "s130_stream_multivar_window" -> AnomalyQueries.multiVarWinSql,

    // The twin replays the identical state machine as gaps-and-islands
    // over the ACTIVE hourly buckets: contiguous active hours form a
    // run, age ≥ 2 h fires (for = 2h), any inactive or missing hour
    // breaks it — one window pass, the q135 shape.
    "s160_stream_relabel" ->
      """WITH r AS (
        |  SELECT
        |    CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 17, 16))
        |      AS UBIGINT) % 4 AS BIGINT) AS shard,
        |    upper(event_type) AS etype_uc, value
        |  FROM events
        |  WHERE regexp_matches(event_type, '^(?:click|error)$')
        |)
        |SELECT shard, etype_uc, count(*) AS n,
        |  round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_value
        |FROM r GROUP BY ALL ORDER BY shard, etype_uc""".stripMargin,

    "s149_stream_alert_rules" ->
      """WITH hours AS (
        |  SELECT event_type, date_trunc('hour', ts) AS step_ts,
        |         count(*) FILTER (WHERE value > 100) AS qual
        |  FROM events GROUP BY 1, 2
        |), act AS (
        |  SELECT event_type, step_ts, CAST(qual AS DOUBLE) AS value,
        |         CAST(epoch(step_ts) AS BIGINT) // 3600 AS h
        |  FROM hours WHERE qual >= 1
        |), runs AS (
        |  SELECT *, CASE WHEN lag(h) OVER (PARTITION BY event_type ORDER BY h)
        |                      IS NULL
        |                  OR lag(h) OVER (PARTITION BY event_type ORDER BY h)
        |                      <> h - 1
        |             THEN h END AS opn
        |  FROM act
        |), st AS (
        |  SELECT event_type, step_ts, value,
        |    h - max(opn) OVER (PARTITION BY event_type ORDER BY h
        |                       ROWS UNBOUNDED PRECEDING) AS age
        |  FROM runs
        |)
        |SELECT event_type, step_ts,
        |  CASE WHEN age >= 2 THEN 'firing' ELSE 'pending' END AS alertstate,
        |  round(value, 6) AS value
        |FROM st ORDER BY event_type, step_ts""".stripMargin,

    // The twin rebuilds each (epoch-aligned 6h window, event_type)
    // histogram from RAW samples through the q139-pinned bucket math —
    // the streaming pre-aggregation partitions samples by bucket, and a
    // histogram assembled from disjoint partials IS the histogram of the
    // union, so the twin never simulates micro-batching.
    "s141_stream_native_histogram" ->
      """WITH raw AS (
        |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS win_start,
        |         event_type, value
        |  FROM events
        |), b AS (
        |  SELECT win_start, event_type,
        |         CAST(CEIL(ROUND(LOG2(value)*4, 9)) AS INT) AS idx
        |  FROM raw WHERE value > 0
        |), tot AS (
        |  SELECT win_start, event_type,
        |         COUNT(*)::DOUBLE AS cnt_all,
        |         ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 2) AS sum_all,
        |         SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END)::DOUBLE AS zero_cnt
        |  FROM raw GROUP BY 1, 2
        |), bc AS (
        |  SELECT win_start, event_type, idx, COUNT(*)::DOUBLE AS cnt
        |  FROM b GROUP BY 1, 2, 3
        |), allb AS (
        |  SELECT win_start, event_type, idx, cnt,
        |         ROUND(POWER(2, (idx-1)/4.0), 9) AS lo,
        |         ROUND(POWER(2, idx/4.0), 9) AS hi
        |  FROM bc
        |  UNION ALL
        |  SELECT win_start, event_type, NULL, zero_cnt, 0.0, 0.0
        |  FROM tot WHERE zero_cnt > 0
        |), bounds AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY win_start, event_type
        |                           ORDER BY lo, hi) AS cum
        |  FROM allb
        |), q AS (
        |  SELECT t.win_start, t.event_type,
        |         MAX(CASE WHEN b.cum >= 0.5*t.cnt_all AND b.cum - b.cnt < 0.5*t.cnt_all
        |             THEN b.lo + (b.hi-b.lo) * ((0.5*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p50,
        |         MAX(CASE WHEN b.cum >= 0.9*t.cnt_all AND b.cum - b.cnt < 0.9*t.cnt_all
        |             THEN b.lo + (b.hi-b.lo) * ((0.9*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p90,
        |         CAST(SUM(CAST(ROUND(b.cnt * ((b.lo+b.hi)/2 - t.sum_all/t.cnt_all)
        |                              * ((b.lo+b.hi)/2 - t.sum_all/t.cnt_all), 6)
        |             AS DECIMAL(27,6))) AS DOUBLE) AS ss,
        |         COUNT(b.idx) AS n_buckets
        |  FROM bounds b JOIN tot t USING (win_start, event_type)
        |  GROUP BY 1, 2
        |)
        |SELECT t.win_start, t.event_type,
        |       CAST(t.cnt_all AS BIGINT) AS n_samples,
        |       CAST(q.n_buckets AS INT) AS n_buckets,
        |       t.sum_all AS sum_value,
        |       ROUND(q.p50, 6) AS p50,
        |       ROUND(q.p90, 6) AS p90,
        |       ROUND(SQRT(q.ss / t.cnt_all), 4) AS stddev
        |FROM tot t JOIN q USING (win_start, event_type)
        |ORDER BY t.win_start, t.event_type""".stripMargin,

    // The OTLP stream carries every event exactly once (render → parse is
    // the identity on samples), so the sink equals the raw-events rollup
    // under the name translation.
    "s171_stream_otlp" ->
      """SELECT 'app_events_' || event_type AS metric, count(*) AS n,
        |  round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE),
        |    4) AS sum_value,
        |  max(ts) AS max_ts
        |FROM events WHERE ts < TIMESTAMP '2024-01-03'
        |GROUP BY 1 ORDER BY metric""".stripMargin,

    // q158's twin verbatim: the streaming 5m chunk build + batch hourly
    // rollup must equal the batch raw→5m→1h chain exactly.
    "s191_stream_downsample" ->
      """WITH raw AS (
        |  SELECT event_type, ts, event_id, value,
        |    time_bucket(INTERVAL 1 HOUR, ts) AS w_ts
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-12' AND ts < TIMESTAMP '2024-01-13'
        |), lastv AS (
        |  SELECT event_type, w_ts, value AS v_counter
        |  FROM raw
        |  QUALIFY row_number() OVER (PARTITION BY event_type, w_ts
        |                             ORDER BY ts DESC, event_id DESC) = 1
        |)
        |SELECT r.event_type, r.w_ts, count(*) AS n,
        |  round(CAST(sum(CAST(round(r.value, 6) AS DECIMAL(18,6))) AS DOUBLE) /
        |    count(*), 6) AS v_avg,
        |  round(min(r.value), 6) AS v_min,
        |  round(max(r.value), 6) AS v_max,
        |  round(any_value(l.v_counter), 6) AS v_counter
        |FROM raw r JOIN lastv l USING (event_type, w_ts)
        |GROUP BY r.event_type, r.w_ts ORDER BY r.event_type, r.w_ts""".stripMargin,

    // Remote-write render → parse is the identity on samples up to the
    // wire's ms timestamp unit; the label map round-trips user intact.
    "s184_stream_remote_write" ->
      """SELECT 'app_events_' || event_type AS metric, count(*) AS n,
        |  round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE),
        |    4) AS sum_value,
        |  max(date_trunc('milliseconds', ts)) AS max_ts,
        |  max(user_id) AS max_user
        |FROM events WHERE ts < TIMESTAMP '2024-01-03'
        |GROUP BY 1 ORDER BY metric""".stripMargin,

    // Exact-parity twin of the BATCH q178 — the streaming fixed-point
    // recursion must land on the identical decimals.
    "s179_stream_cusum" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, count(*) AS n, sum(cnt) AS sm,
        |    sum(cnt * cnt) AS ss
        |  FROM hourly GROUP BY 1
        |), st AS (
        |  SELECT event_type, CAST(sm AS DOUBLE) / n AS mu,
        |    sqrt(CAST(ss AS DOUBLE) / n -
        |      (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n)) AS sigma
        |  FROM stats
        |), dev AS (
        |  SELECT h.event_type, h.h, s.sigma,
        |    CAST(round(h.cnt - s.mu, 6) AS DECIMAL(18,6)) AS d
        |  FROM hourly h JOIN st s ON s.event_type = h.event_type
        |), cum0 AS (
        |  SELECT event_type, h, sigma, sum(d) OVER win AS c
        |  FROM dev
        |  WINDOW win AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), cum AS (
        |  SELECT event_type, h, sigma, c,
        |    least(min(c) OVER win, CAST(0 AS DECIMAL(18,6))) AS minc
        |  FROM cum0
        |  WINDOW win AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), cus AS (
        |  SELECT event_type, h,
        |    CAST(c - minc AS DOUBLE) AS cusum,
        |    CAST(c - minc AS DOUBLE) > 3.0 * sigma AS cp
        |  FROM cum
        |)
        |SELECT event_type, count(*) AS n_hours,
        |  round(max(cusum), 4) AS max_cusum,
        |  CAST(sum(CASE WHEN cp THEN 1 ELSE 0 END) AS BIGINT) AS n_cp_hours,
        |  min(CASE WHEN cp THEN h END) AS first_cp
        |FROM cus GROUP BY 1 ORDER BY event_type""".stripMargin
  )
}
