package graft.queries

import graft.Tables._
import graft.metrics.NativeHistogram
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Native-histogram pipeline parity (the successor to the reference's
  * classic le-bucket `Histogram`, `metrics/_metrics.py:71`): BUILD sparse
  * exponential-bucket histograms per series shard, MERGE them with the
  * `sum()`-over-histograms rule, then run the ANALYZE battery. The
  * DuckDB twin recomputes every figure from the RAW samples through the
  * same published bucket math (idx = ⌈2^s·log2 v⌉ with the 9-dp boundary
  * pre-round, 9-dp bounds, 6-dp decimal-summed contributions) — merging
  * same-schema histograms built from disjoint shards is exactly the
  * histogram of the union, so the twin never needs to simulate the
  * shard split.
  */
object NativeHistogramQueries {

  private val Schema = 2 // base 2^(1/4) ≈ 1.189 — 4 buckets per octave

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Build per (event_type, user-shard) → merge to event_type →
    // count/sum/avg/quantiles/fraction/stddev/stdvar + bucket count.
    // sum is decimal-exact (2-dp inputs), so round(sum,2) is the SAME
    // double in both engines and everything derived from it (avg, the
    // stdvar mean) is bit-reproducible, not merely close.
    "q139_native_histogram" -> ((s, d) => {
      val sharded = NativeHistogram.fromSamples(
        events(s, d).withColumn("shard", pmod(col("user_id"), lit(10))),
        Seq("event_type", "shard"), "value", Schema)
      val merged = NativeHistogram.merge(sharded, Seq("event_type"))
      val exactSum = round(col("sum"), 2)
      val mean = exactSum / col("count")
      merged.select(
        col("event_type"),
        col("count").cast("long").as("n_samples"),
        size(col("pos")).as("n_buckets"),
        exactSum.as("sum_value"),
        round(mean, 6).as("avg_value"),
        round(NativeHistogram.histogramQuantile(0.5), 6).as("p50"),
        round(NativeHistogram.histogramQuantile(0.9), 6).as("p90"),
        round(NativeHistogram.histogramQuantile(0.99), 6).as("p99"),
        round(NativeHistogram.histogramFraction(1.0, 100.0), 6).as("frac_1_100"),
        round(NativeHistogram.histogramStdvar(meanCol = Some(mean)), 4).as("stdvar"),
        round(NativeHistogram.histogramStddev(meanCol = Some(mean)), 4).as("stddev"))
        .orderBy(col("event_type"))
    }),

    // The native-histogram COUNTER path: cumulative histograms scraped at
    // five 6h marks (each event explodes onto the ≤5 marks at-or-after
    // it — bounded generate, one build pass), then increase() = bucket-
    // wise reset-aware diff per series. The increase IS the slice
    // histogram (cumulative math), so the twin rebuilds each (mark −
    // 6h, mark] slice directly from raw samples; quantiles are scale-
    // invariant, so p90-of-increase == p90-of-rate. Empty-increase rows
    // are suppressed (count > 0) to keep the twin join-free.
    // OpenMetrics exemplars: at most one exemplar per bucket, newest
    // wins — a single keyed max_by on the same (group, sign, bucket)
    // key as the build, so the whole reduction stays map-side partial
    // and the output is |groups|·|buckets| rows. trace_id derives from
    // the event's JSON props so newest-per-bucket genuinely decides.
    "q146_native_histogram_exemplars" -> ((s, d) => {
      val ev = events(s, d).withColumn("trace_id",
        concat(lit("t"), get_json_object(col("props"), "$.k")))
      NativeHistogram.exemplars(ev, Seq(col("event_type")), "value", Schema,
        Seq("trace_id"), "ts", "event_id")
        .select(col("event_type"), col("sign"), col("idx"),
          col("exemplar.trace_id").as("trace_id"),
          round(col("exemplar.value"), 6).as("ex_value"),
          col("exemplar.ts").as("ex_ts"))
        .orderBy(col("event_type"), col("sign"), col("idx"))
    }),

    // query_range over NATIVE histograms (round 10: the grid face of the
    // q143 battery): per step, the newest cumulative histogram feeds
    // count/quantile directly; the counter form merges the reset-aware
    // pair diffs whose BOTH samples sit inside the step's trailing
    // window — pair diffs computed once per series, exploded onto
    // ≤ ⌈w/step⌉ steps, merged per (series, step). The window is [13h],
    // NOT [12h]: range windows are left-open, so a prev scrape exactly
    // w back is outside and a 12h window over 6h marks would capture a
    // single pair; 13h makes the effective slice (T−12h, T]. Counts are
    // integer-exact and quantiles interpolate on 9-dp-pinned bounds, so
    // every branch is oracle-exact.
    "q147_native_histogram_grid" -> ((s, d) => {
      val mark0 = lit("2024-01-10 00:00:00").cast("timestamp")
      val marks = sequence(mark0, lit("2024-01-11 00:00:00").cast("timestamp"),
        expr("INTERVAL 6 HOURS"))
      val cum = NativeHistogram.assemble(
        NativeHistogram.bucketCounts(
          events(s, d).withColumn("mark", explode(marks))
            .filter(col("ts") <= col("mark")),
          Seq(col("mark"), col("event_type")), "value", Schema),
        Seq("mark", "event_type"), Schema)
      val src = eventsSrc(s, d).copy(hist = Some(graft.metrics.PromQlParser.HistBinding(
        cum, "event_type", Seq("event_type"), "mark", "mark")))
      def run(q: String, tag: String) =
        graft.metrics.PromQlParser.evalRange(src, q,
          "2024-01-10 06:00:00", "2024-01-11 00:00:00", stepSec = 21600)
          .withColumn("which", lit(tag))
      run("""histogram_count({event_type=~".+"})""", "count")
        .unionByName(
          run("""histogram_count(increase({event_type=~".+"}[13h]))""", "inc_count"))
        .unionByName(
          run("""histogram_quantile(0.9, {event_type=~".+"})""", "p90"))
        .select(col("which"), col("event_type"), col("step_ts"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("event_type"), col("step_ts"))
    }),

    "q142_native_histogram_rate" -> ((s, d) => {
      val mark0 = lit("2024-01-10 00:00:00").cast("timestamp")
      val marks = sequence(mark0, lit("2024-01-11 00:00:00").cast("timestamp"),
        expr("INTERVAL 6 HOURS"))
      val cum = NativeHistogram.assemble(
        NativeHistogram.bucketCounts(
          events(s, d).withColumn("mark", explode(marks))
            .filter(col("ts") <= col("mark")),
          Seq(col("mark"), col("event_type")), "value", Schema),
        Seq("mark", "event_type"), Schema)
      val inc = NativeHistogram.increase(cum, Seq("event_type"), "mark")
        .filter(col("count") > 0)
      inc.select(
        col("event_type"), col("mark"),
        col("count").cast("long").as("n_inc"),
        round(col("sum"), 2).as("sum_inc"),
        (col("count") / col("dt_sec")).as("count_rate"),
        round(NativeHistogram.histogramQuantile(0.9), 6).as("p90"))
        .orderBy(col("event_type"), col("mark"))
    }),

    // The PromQL TEXT surface over native histograms (the 3.x function
    // battery): the same cumulative 6h-mark histograms, bound as the
    // PromSource's `hist` frame, queried entirely through parsed PromQL —
    // `histogram_count/sum/avg/stddev/stdvar/fraction`, native-routed
    // `histogram_quantile`, and the counter forms `increase(sel[24h])` /
    // `rate(sel[24h])` (consecutive reset-aware bucket diffs merged per
    // series; quantiles are scale-invariant so p90-of-rate needs no
    // rescale). Nine independent instant queries joined on the series key
    // for ONE oracle row per type — each branch is a tiny keyed
    // window/agg over the shared `cum` subtree (exchange-reused), so the
    // battery's shuffle count is the sum of its branches, not a scale
    // smell. avg is RAW sum/count in the engine (one double division of
    // the double sum), so the twin derives it from the UNROUNDED decimal
    // sum; stdvar's mean rides the 2-dp-pinned sum on both sides within
    // its 4-dp print. increase covers (first in-window mark, T] =
    // (2024-01-10 06:00, 2024-01-11 00:00] — the first scrape is the
    // baseline, as upstream.
    "q143_promql_native_histogram" -> ((s, d) => {
      val mark0 = lit("2024-01-10 00:00:00").cast("timestamp")
      val marks = sequence(mark0, lit("2024-01-11 00:00:00").cast("timestamp"),
        expr("INTERVAL 6 HOURS"))
      val cum = NativeHistogram.assemble(
        NativeHistogram.bucketCounts(
          events(s, d).withColumn("mark", explode(marks))
            .filter(col("ts") <= col("mark")),
          Seq(col("mark"), col("event_type")), "value", Schema),
        Seq("mark", "event_type"), Schema)
      val src = eventsSrc(s, d).copy(hist = Some(graft.metrics.PromQlParser.HistBinding(
        cum, "event_type", Seq("event_type"), "mark", "mark")))
      val T = "2024-01-11 00:00:00"
      val sel = """{event_type=~".+"}"""
      def one(q: String, out: Column, name: String) =
        graft.metrics.PromQlParser.eval(src, q, T)
          .select(col("event_type"), out.as(name))
      val v = col("value")
      one(s"histogram_count($sel)", v.cast("long"), "n_samples")
        .join(one(s"histogram_sum($sel)", round(v, 2), "sum_value"), "event_type")
        .join(one(s"histogram_avg($sel)", round(v, 6), "avg_value"), "event_type")
        .join(one(s"histogram_stddev($sel)", round(v, 4), "stddev"), "event_type")
        .join(one(s"histogram_stdvar($sel)", round(v, 4), "stdvar"), "event_type")
        .join(one(s"histogram_fraction(1, 100, $sel)", round(v, 6), "frac_1_100"), "event_type")
        .join(one(s"histogram_quantile(0.9, $sel)", round(v, 6), "p90"), "event_type")
        .join(one(s"histogram_count(increase($sel[24h]))", v.cast("long"), "n_inc"), "event_type")
        .join(one(s"histogram_quantile(0.9, rate($sel[24h]))", round(v, 6), "p90_rate"), "event_type")
        .orderBy(col("event_type"))
    }),

    // NHCB — native histograms with CUSTOM buckets (Prometheus 3.x,
    // schema −53): the scrape option `convert_classic_histograms_to_nhcb`
    // turns the classic le-bucket family (the reference's A5 shape,
    // `metrics/_metrics.py:71`, q46's bounds) into native-histogram
    // storage whose buckets are the classic bounds. Pipeline under test:
    // DENSE classic cumulative build per (metric, user-shard) → NHCB
    // conversion per shard → `sum()` merge across shards (legal only
    // because every shard carries the identical bound layout — the dense
    // build's whole point; mismatched layouts raise) → classic-rule
    // quantiles (linear inside the hit bucket, first-bucket lower = 0,
    // +Inf bucket → highest finite bound). Counts are integers and
    // bounds are exact literals, so every figure is oracle-exact. Scale:
    // two keyed aggs to histograms (|groups|·|bounds| rows, never
    // sample-sized), bucket-row-only merge — same discipline as the
    // exponential family.
    "q182_nhcb_histogram" -> ((s, d) => {
      val bounds = Seq(1.0, 5.0, 10.0, 50.0, 100.0)
      val ev = events(s, d).withColumn("metric", col("event_type"))
        .withColumn("shard", pmod(col("user_id"), lit(10)))
      val dense = NativeHistogram.classicCumulativeDense(
        ev, Seq("metric", "shard"), "value", bounds)
      val nhcb = NativeHistogram.fromClassicCumulative(
        dense, Seq("metric", "shard"))
      val merged = NativeHistogram.mergeCustom(nhcb, Seq("metric"))
      merged.select(
        col("metric"),
        col("count").cast("long").as("n_obs"),
        size(col("pos")).as("n_buckets"),
        round(NativeHistogram.nhcbQuantile(0.5), 6).as("p50"),
        round(NativeHistogram.nhcbQuantile(0.9), 6).as("p90"),
        round(NativeHistogram.nhcbQuantile(0.99), 6).as("p99"))
        .orderBy(col("metric"))
    }),

    // The PromQL TEXT surface over NHCB: the converted custom-bucket
    // histograms bound as the PromSource's hist frame (padded to the
    // union column set), queried through parsed `histogram_quantile` /
    // `histogram_count` — the parser dispatches per-row on schema −53,
    // which is how a 3.x server serves a selector that touches converted
    // classic families. Two scrape marks prove instant-vector staleness
    // picks the newest histogram at T.
    "q188_promql_nhcb" -> ((s, d) => {
      val bounds = Seq(1.0, 5.0, 10.0, 50.0, 100.0)
      val ev = events(s, d)
      val marked = ev.withColumn("mark", explode(array(
          lit("2024-01-10 12:00:00").cast("timestamp"),
          lit("2024-01-11 00:00:00").cast("timestamp"))))
        .filter(col("ts") <= col("mark"))
      val nhcb = NativeHistogram.fromClassicCumulative(
        NativeHistogram.classicCumulativeDense(
          marked, Seq("event_type", "mark"), "value", bounds),
        Seq("event_type", "mark"))
        .withColumn("zero_count", lit(0.0))
        .withColumn("neg", array().cast("array<struct<idx:int,cnt:double>>"))
        .withColumn("sum", lit(null).cast("double"))
      val src = graft.metrics.PromQlParser.PromSource(ev,
        "event_type", Seq("user_id", "event_type"), "ts", "event_id", "value",
        hist = Some(graft.metrics.PromQlParser.HistBinding(
          nhcb, "event_type", Seq("event_type"), "mark", "mark")))
      val T = "2024-01-11 00:00:00"
      val sel = """{event_type=~".+"}"""
      def one(q: String, out: Column, name: String) =
        graft.metrics.PromQlParser.eval(src, q, T)
          .select(col("event_type"), out.as(name))
      val v = col("value")
      one(s"histogram_count($sel)", v.cast("long"), "n_obs")
        .join(one(s"histogram_quantile(0.5, $sel)", round(v, 6), "p50"), "event_type")
        .join(one(s"histogram_quantile(0.9, $sel)", round(v, 6), "p90"), "event_type")
        .join(one(s"histogram_quantile(0.99, $sel)", round(v, 6), "p99"), "event_type")
        .orderBy(col("event_type"))
    }),

    // q139's battery THROUGH the remote-write 2.0 span/delta wire: the
    // per-shard histograms render into `histograms[]` (span offsets =
    // gap to the previous span's exclusive end; delta-coded counts —
    // both single aggregate folds, pure column math), parse back, and
    // merge. Wire identity means the output — and the oracle — is
    // byte-identical to q139's; a codec asymmetry (span gap math, delta
    // base, zero-bucket handling) hashes red immediately.
    "q195_rw2_native_histograms" -> ((s, d) => {
      import graft.sources.RemoteWrite
      val sharded = NativeHistogram.fromSamples(
        events(s, d).withColumn("shard", pmod(col("user_id"), lit(10))),
        Seq("event_type", "shard"), "value", Schema)
        .withColumn("sts", lit("2024-01-31 00:00:00").cast("timestamp"))
      val docs = RemoteWrite.renderV2Hist(
        sharded, col("shard"), col("event_type"), col("sts"))
      val back = RemoteWrite.parseV2Hist(docs)
        .withColumnRenamed("metric", "event_type")
      val merged = NativeHistogram.merge(back, Seq("event_type"))
      val exactSum = round(col("sum"), 2)
      val mean = exactSum / col("count")
      merged.select(
        col("event_type"),
        col("count").cast("long").as("n_samples"),
        size(col("pos")).as("n_buckets"),
        exactSum.as("sum_value"),
        round(mean, 6).as("avg_value"),
        round(NativeHistogram.histogramQuantile(0.5), 6).as("p50"),
        round(NativeHistogram.histogramQuantile(0.9), 6).as("p90"),
        round(NativeHistogram.histogramQuantile(0.99), 6).as("p99"),
        round(NativeHistogram.histogramFraction(1.0, 100.0), 6).as("frac_1_100"),
        round(NativeHistogram.histogramStdvar(meanCol = Some(mean)), 4).as("stdvar"),
        round(NativeHistogram.histogramStddev(meanCol = Some(mean)), 4).as("stddev"))
        .orderBy(col("event_type"))
    }),

    // [N] q195's REAL-WIRE twin: the same sharded native histograms ride
    // an actual io.prometheus.write.v2.Request protobuf — interned
    // symbols, labels as refs, histograms in field 3 with zigzag sint
    // schema/span offsets and PACKED deltas — then decode back through
    // the SAME span/delta column math and the SAME merge/quantile
    // pipeline. Identical oracle as q195: only the wire differs, so any
    // zigzag/packing/framing defect shreds the buckets and hashes red.
    "q265_rw2_native_histograms_pb" -> ((s, d) => {
      import graft.sources.RemoteWrite
      val sharded = NativeHistogram.fromSamples(
        events(s, d).withColumn("shard", pmod(col("user_id"), lit(10))),
        Seq("event_type", "shard"), "value", Schema)
        .withColumn("sts", lit("2024-01-31 00:00:00").cast("timestamp"))
      val docs = RemoteWrite.renderV2HistPb(
        sharded, col("shard"), col("event_type"), col("sts"))
      val back = RemoteWrite.parseV2HistPb(docs)
        .withColumnRenamed("metric", "event_type")
      val merged = NativeHistogram.merge(back, Seq("event_type"))
      val exactSum = round(col("sum"), 2)
      val mean = exactSum / col("count")
      merged.select(
        col("event_type"),
        col("count").cast("long").as("n_samples"),
        size(col("pos")).as("n_buckets"),
        exactSum.as("sum_value"),
        round(mean, 6).as("avg_value"),
        round(NativeHistogram.histogramQuantile(0.5), 6).as("p50"),
        round(NativeHistogram.histogramQuantile(0.9), 6).as("p90"),
        round(NativeHistogram.histogramQuantile(0.99), 6).as("p99"),
        round(NativeHistogram.histogramFraction(1.0, 100.0), 6).as("frac_1_100"),
        round(NativeHistogram.histogramStdvar(meanCol = Some(mean)), 4).as("stdvar"),
        round(NativeHistogram.histogramStddev(meanCol = Some(mean)), 4).as("stddev"))
        .orderBy(col("event_type"))
    }),

    // TWO-SIDED native histogram with a real zero-bucket width: shifted
    // samples (v − 50) populate negative buckets, the zero bucket
    // absorbs |v| ≤ 0.5, and the quantile/fraction walks interpolate
    // across the mirrored-negative → zero → positive bucket order —
    // p25 lands in negative buckets, ±10 fraction spans all three
    // regions. The oracle rebuilds the full two-sided cumulative order
    // in SQL (mirrored bounds, the same 9-dp pow pins).
    "q212_two_sided_histogram" -> ((s, d) => {
      val ev = events(s, d).withColumn("v", round(col("value"), 6) - 50.0)
      val hist = NativeHistogram.fromSamples(ev, Seq("event_type"), "v",
        Schema, zeroThreshold = 0.5)
      val exactSum = round(col("sum"), 2)
      hist.select(
        col("event_type"),
        col("count").cast("long").as("n_samples"),
        col("zero_count").cast("long").as("n_zero"),
        size(col("pos")).as("n_pos_buckets"),
        size(col("neg")).as("n_neg_buckets"),
        exactSum.as("sum_value"),
        round(NativeHistogram.histogramQuantile(0.25, zeroThreshold = 0.5), 6).as("p25"),
        round(NativeHistogram.histogramQuantile(0.5, zeroThreshold = 0.5), 6).as("p50"),
        round(NativeHistogram.histogramQuantile(0.9, zeroThreshold = 0.5), 6).as("p90"),
        round(NativeHistogram.histogramFraction(-10.0, 10.0, zeroThreshold = 0.5), 6)
          .as("frac_pm10"))
        .orderBy(col("event_type"))
    }),

    // q139's battery through a THIRD wire: OTLP/JSON exponential
    // histograms (the Prometheus 3.x OTLP receiver path). Per-job
    // histograms render as exponentialHistogram datapoints (scale =
    // schema, dense zero-filled bucketCounts, uint64s as strings, OTLP
    // index = Prometheus index − 1), parse back through from_json column
    // math, and merge — the result must be byte-identical to the classic
    // build and the RW2.0 wire, all three against ONE oracle twin. An
    // off-by-one in the index translation, a gap mis-fill, or a dropped
    // zero bucket shifts every quantile and hashes red.
    // [N] Exponential-histogram DELTA→cumulative (the deltatocumulative
    // processor's histogram half): HOURLY per-(type, job) exponential
    // histograms ride the OTLP wire as aggregationTemporality=1
    // datapoints; parse carries the DELTA mark, and the conversion at a
    // checkpoint T is the defining equation — bucket-wise keyed merge
    // of every delta point ≤ T — evaluated at mid-range AND the end.
    // Both cumulative builds must equal the DIRECT histogram of the raw
    // events under the same cut, quantiles and all; n_points counts the
    // DELTA-marked datapoints merged (wire mark load-bearing: an
    // unmarked parse would count 0 and hash red). Scale shape: the
    // conversion is one keyed agg over (series, bucket) — nothing
    // pairwise, nothing driver-side.
    "q267_exp_histogram_delta" -> ((s, d) => {
      import graft.sources.Otlp
      val mid = lit("2024-01-08 00:00:00").cast("timestamp")
      val hourly = NativeHistogram.fromSamples(
        events(s, d).withColumn("job", pmod(col("user_id"), lit(3)))
          .withColumn("h", date_trunc("hour", col("ts"))),
        Seq("event_type", "job", "h"), "value", Schema)
      val docs = Otlp.renderExpHistogram(
        hourly, col("job"), col("event_type"), col("h"), temporality = 1)
      val back = graft.CacheBag.register(Otlp.parseExpHistogram(docs)
        .withColumnRenamed("metric", "event_type")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // ONE merge pass for both report points: each parsed point belongs
      // to "final" always and to "mid" when ts < mid, so exploding that
      // tag array and merging by (which, event_type) computes both rows
      // in a single window + groupBy + join chain — the earlier
      // two-invocation form (cumAt("final") ∪ cumAt("mid")) ran the merge
      // machinery twice over the same persisted frame for identical
      // total row volume (guide §2.4: two operations keyed the same way
      // share one pass). Row-for-row identical output by construction.
      val tagged = back.withColumn("which",
        explode(when(col("ts") < mid, array(lit("final"), lit("mid")))
          .otherwise(array(lit("final")))))
      val merged = NativeHistogram.merge(tagged, Seq("which", "event_type"))
      val nPoints = tagged.filter(col("temporality") === 1)
        .groupBy(col("which"), col("event_type"))
        .agg(count(lit(1)).as("n_points"))
      val exactSum = round(col("sum"), 2)
      val mean = exactSum / col("count")
      merged.join(nPoints, Seq("which", "event_type"))
        .select(
          col("which"),
          col("event_type"),
          col("n_points"),
          col("count").cast("long").as("n_samples"),
          size(col("pos")).as("n_buckets"),
          exactSum.as("sum_value"),
          round(mean, 6).as("avg_value"),
          round(NativeHistogram.histogramQuantile(0.5), 6).as("p50"),
          round(NativeHistogram.histogramQuantile(0.9), 6).as("p90"))
        .orderBy(col("which"), col("event_type"))
    }),

    "q202_otlp_exp_histogram" -> ((s, d) => {
      import graft.sources.Otlp
      val perJob = NativeHistogram.fromSamples(
        events(s, d).withColumn("job", pmod(col("user_id"), lit(3))),
        Seq("event_type", "job"), "value", Schema)
        .withColumn("sts", lit("2024-01-31 00:00:00").cast("timestamp"))
      val docs = Otlp.renderExpHistogram(
        perJob, col("job"), col("event_type"), col("sts"))
      val back = Otlp.parseExpHistogram(docs)
        .withColumnRenamed("metric", "event_type")
      val merged = NativeHistogram.merge(back, Seq("event_type"))
      val exactSum = round(col("sum"), 2)
      val mean = exactSum / col("count")
      merged.select(
        col("event_type"),
        col("count").cast("long").as("n_samples"),
        size(col("pos")).as("n_buckets"),
        exactSum.as("sum_value"),
        round(mean, 6).as("avg_value"),
        round(NativeHistogram.histogramQuantile(0.5), 6).as("p50"),
        round(NativeHistogram.histogramQuantile(0.9), 6).as("p90"),
        round(NativeHistogram.histogramQuantile(0.99), 6).as("p99"),
        round(NativeHistogram.histogramFraction(1.0, 100.0), 6).as("frac_1_100"),
        round(NativeHistogram.histogramStdvar(meanCol = Some(mean)), 4).as("stdvar"),
        round(NativeHistogram.histogramStddev(meanCol = Some(mean)), 4).as("stddev"))
        .orderBy(col("event_type"))
    }))

  private val q139Twin: String =
    """WITH raw AS (
      |  SELECT event_type, value FROM events
      |), b AS (
      |  SELECT event_type,
      |         CAST(CEIL(ROUND(LOG2(value)*4, 9)) AS INT) AS idx,
      |         value
      |  FROM raw WHERE value > 0
      |), tot AS (
      |  SELECT event_type,
      |         COUNT(*)::DOUBLE AS cnt_all,
      |         ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 2) AS sum_all,
      |         SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END)::DOUBLE AS zero_cnt
      |  FROM raw GROUP BY 1
      |), bc AS (
      |  SELECT event_type, idx, COUNT(*)::DOUBLE AS cnt FROM b GROUP BY 1, 2
      |), allb AS (
      |  SELECT event_type, idx, cnt,
      |         ROUND(POWER(2, (idx-1)/4.0), 9) AS lo,
      |         ROUND(POWER(2, idx/4.0), 9) AS hi
      |  FROM bc
      |  UNION ALL
      |  SELECT event_type, NULL, zero_cnt, 0.0, 0.0 FROM tot WHERE zero_cnt > 0
      |), bounds AS (
      |  SELECT *, SUM(cnt) OVER (PARTITION BY event_type ORDER BY lo, hi) AS cum
      |  FROM allb
      |), q AS (
      |  SELECT t.event_type,
      |         MAX(CASE WHEN b.cum >= 0.5*t.cnt_all AND b.cum - b.cnt < 0.5*t.cnt_all
      |             THEN b.lo + (b.hi-b.lo) * ((0.5*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p50,
      |         MAX(CASE WHEN b.cum >= 0.9*t.cnt_all AND b.cum - b.cnt < 0.9*t.cnt_all
      |             THEN b.lo + (b.hi-b.lo) * ((0.9*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p90,
      |         MAX(CASE WHEN b.cum >= 0.99*t.cnt_all AND b.cum - b.cnt < 0.99*t.cnt_all
      |             THEN b.lo + (b.hi-b.lo) * ((0.99*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p99,
      |         CAST(SUM(CAST(CASE WHEN b.hi = b.lo
      |             THEN (CASE WHEN 1 <= b.lo AND b.hi <= 100 THEN ROUND(b.cnt, 6) ELSE 0 END)
      |             ELSE ROUND(b.cnt * GREATEST(0, LEAST((LEAST(100, b.hi) - GREATEST(1, b.lo)) / (b.hi - b.lo), 1)), 6) END AS DECIMAL(27,6))) AS DOUBLE) AS frac_num,
      |         CAST(SUM(CAST(ROUND(b.cnt * ((b.lo+b.hi)/2 - t.sum_all/t.cnt_all) * ((b.lo+b.hi)/2 - t.sum_all/t.cnt_all), 6) AS DECIMAL(27,6))) AS DOUBLE) AS ss,
      |         COUNT(b.idx) AS n_buckets
      |  FROM bounds b JOIN tot t USING (event_type)
      |  GROUP BY 1
      |)
      |SELECT t.event_type,
      |       CAST(t.cnt_all AS BIGINT) AS n_samples,
      |       CAST(q.n_buckets AS INT) AS n_buckets,
      |       t.sum_all AS sum_value,
      |       ROUND(t.sum_all / t.cnt_all, 6) AS avg_value,
      |       ROUND(q.p50, 6) AS p50,
      |       ROUND(q.p90, 6) AS p90,
      |       ROUND(q.p99, 6) AS p99,
      |       ROUND(q.frac_num / t.cnt_all, 6) AS frac_1_100,
      |       ROUND(q.ss / t.cnt_all, 4) AS stdvar,
      |       ROUND(SQRT(q.ss / t.cnt_all), 4) AS stddev
      |FROM tot t JOIN q USING (event_type)
      |ORDER BY t.event_type""".stripMargin

  private val q195Twin: String = q139Twin

  /** q139Twin cut to a checkpoint: the twin's raw CTE gains a ts
    * filter, the ORDER BY is stripped for subquery use, and a
    * delta-point count (distinct (job, hour) with events under the cut)
    * joins in — the conversion-at-checkpoint oracle for q267. */
  private def q267TwinAt(tag: String, where: String): String = {
    val cut = q139Twin
      .replace("SELECT event_type, value FROM events",
        s"SELECT event_type, value FROM events WHERE $where")
      .replace("ORDER BY t.event_type", "")
    s"""SELECT '$tag' AS which, t2.event_type, np.n_points, t2.n_samples,
       |  t2.n_buckets, t2.sum_value, t2.avg_value, t2.p50, t2.p90
       |FROM ($cut) t2
       |JOIN (
       |  SELECT event_type, count(*) AS n_points FROM (
       |    SELECT DISTINCT event_type, user_id % 3 AS job,
       |      date_trunc('hour', ts) AS h
       |    FROM events WHERE $where) GROUP BY 1
       |) np USING (event_type)""".stripMargin
  }

  private val q267Twin: String =
    q267TwinAt("final", "1 = 1") + "\nUNION ALL\n" +
      q267TwinAt("mid", "ts < TIMESTAMP '2024-01-08 00:00:00'") +
      "\nORDER BY which, event_type"

  val oracle: Map[String, String] = Map(
    // The twin rebuilds the bucket layout from raw samples with the
    // IDENTICAL pinned arithmetic: 9-dp pre-round before ⌈·⌉, 9-dp
    // bounds, interpolation on the unique covering bucket, 6-dp
    // decimal-summed stdvar/fraction contributions.
    // Steps 2024-01-10 06:00 (epoch 1704866400) + i·6h, i in 0..3; the
    // counter window's lower bound clamps at the first scrape mark
    // (2024-01-10 00:00) because pairs need both ends on the mark grid.
    "q147_native_histogram_grid" ->
      """WITH marks AS (
        |  SELECT make_timestamp((1704866400 + i * 21600) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 3)) AS i)
        |), cnt AS (
        |  SELECT 'count' AS which, e.event_type, m.step_ts,
        |    round(CAST(count(*) AS DOUBLE), 6) AS value
        |  FROM marks m JOIN events e ON e.ts <= m.step_ts
        |  GROUP BY 2, 3
        |), allmarks AS (
        |  SELECT make_timestamp((1704844800 + i * 21600) * 1000000) AS mark
        |  FROM (SELECT unnest(generate_series(0, 4)) AS i)
        |), cum AS (
        |  -- a cumulative histogram SAMPLE exists at a mark only if the
        |  -- series has >= 1 event by then; its count is the running total
        |  SELECT mk.mark, e.event_type, count(*) AS c
        |  FROM allmarks mk JOIN events e ON e.ts <= mk.mark
        |  GROUP BY 1, 2
        |), inc AS (
        |  -- increase() merges consecutive-pair diffs with BOTH samples in
        |  -- the (T-13h, T] window; cumulative counts are nondecreasing, so
        |  -- the merged value telescopes to max(c) - min(c) over the
        |  -- IN-WINDOW samples — and >= 2 samples must be present (a lone
        |  -- sample has no pair; equal counts still emit a 0.0 row, the
        |  -- Prometheus zero-increase semantics)
        |  SELECT 'inc_count' AS which, c.event_type, m.step_ts,
        |    round(CAST(max(c.c) - min(c.c) AS DOUBLE), 6) AS value
        |  FROM marks m JOIN cum c
        |    ON c.mark <= m.step_ts AND c.mark > m.step_ts - INTERVAL 13 HOURS
        |  GROUP BY 2, 3
        |  HAVING count(*) >= 2
        |), b AS (
        |  SELECT m.step_ts, e.event_type,
        |         CAST(CEIL(ROUND(LOG2(e.value)*4, 9)) AS INT) AS idx
        |  FROM marks m JOIN events e ON e.ts <= m.step_ts
        |  WHERE e.value > 0
        |), tot AS (
        |  -- quantile RANK runs over the FULL histogram: negative + zero
        |  -- + positive observations all count (the native-histogram
        |  -- rule), even though the 0.9 rank lands in positive buckets
        |  SELECT m.step_ts, e.event_type, COUNT(*)::DOUBLE AS cnt_all,
        |    CAST(sum(CASE WHEN e.value <= 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS n_nonpos
        |  FROM marks m JOIN events e ON e.ts <= m.step_ts
        |  GROUP BY 1, 2
        |), bc AS (
        |  SELECT step_ts, event_type, idx, COUNT(*)::DOUBLE AS cnt
        |  FROM b GROUP BY 1, 2, 3
        |), bounds AS (
        |  SELECT bc.*, ROUND(POWER(2, (idx-1)/4.0), 9) AS lo,
        |         ROUND(POWER(2, idx/4.0), 9) AS hi,
        |         t.n_nonpos +
        |           SUM(cnt) OVER (PARTITION BY bc.step_ts, bc.event_type
        |                          ORDER BY idx) AS cum
        |  FROM bc JOIN tot t USING (step_ts, event_type)
        |), p90 AS (
        |  SELECT 'p90' AS which, b.event_type, b.step_ts,
        |    round(MAX(CASE WHEN b.cum >= 0.9*t.cnt_all AND b.cum - b.cnt < 0.9*t.cnt_all
        |        THEN b.lo + (b.hi-b.lo)*((0.9*t.cnt_all - (b.cum-b.cnt))/b.cnt) END), 6)
        |      AS value
        |  FROM bounds b JOIN tot t USING (step_ts, event_type)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT * FROM (
        |  SELECT which, event_type, step_ts, value FROM cnt
        |  UNION ALL SELECT which, event_type, step_ts, value FROM inc
        |  UNION ALL SELECT which, event_type, step_ts, value FROM p90
        |) ORDER BY which, event_type, step_ts""".stripMargin,

    "q146_native_histogram_exemplars" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END AS sign,
        |    CASE WHEN value = 0 THEN NULL
        |         ELSE CAST(CEIL(ROUND(LOG2(ABS(value))*4, 9)) AS INT) END AS idx,
        |    't' || CAST(json_extract(props, '$.k') AS VARCHAR) AS trace_id,
        |    value, ts, event_id
        |  FROM events
        |)
        |SELECT event_type, sign, idx, trace_id,
        |  round(value, 6) AS ex_value, ts AS ex_ts
        |FROM b
        |QUALIFY row_number() OVER (PARTITION BY event_type, sign, idx
        |                           ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY event_type, sign, idx""".stripMargin,

    "q139_native_histogram" -> q139Twin,
    // q139 through the RW2.0 span/delta wire: render -> parse is the
    // identity on histograms, so the twin is IDENTICAL.
    "q195_rw2_native_histograms" -> q195Twin,
    // identical oracle: only the wire differs between q195 and q265
    "q265_rw2_native_histograms_pb" -> q195Twin,
    // Two-sided cumulative order rebuilt raw: mirrored negative bounds,
    // the [-0.5, 0.5] zero bucket, the same 9-dp pow pins and the
    // q139-style first-bucket-at-rank quantile CASE.
    "q212_two_sided_histogram" ->
      """WITH raw AS (
        |  SELECT event_type, round(value, 6) - 50.0 AS v FROM events
        |), cls AS (
        |  SELECT event_type, v,
        |    CASE WHEN v > 0.5 THEN 1 WHEN v < -0.5 THEN -1 ELSE 0 END AS sgn,
        |    CASE WHEN abs(v) > 0.5
        |      THEN CAST(CEIL(ROUND(LOG2(abs(v)) * 4, 9)) AS INT) END AS idx
        |  FROM raw
        |), tot AS (
        |  SELECT event_type, COUNT(*)::DOUBLE AS cnt_all,
        |    ROUND(CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE), 2) AS sum_all,
        |    SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END)::DOUBLE AS zero_cnt
        |  FROM cls GROUP BY 1
        |), bc AS (
        |  SELECT event_type, sgn, idx, COUNT(*)::DOUBLE AS cnt
        |  FROM cls WHERE sgn <> 0 GROUP BY 1, 2, 3
        |), allb AS (
        |  SELECT event_type,
        |    CASE WHEN sgn = 1 THEN ROUND(POWER(2, (idx - 1) / 4.0), 9)
        |         ELSE -ROUND(POWER(2, idx / 4.0), 9) END AS lo,
        |    CASE WHEN sgn = 1 THEN ROUND(POWER(2, idx / 4.0), 9)
        |         ELSE -ROUND(POWER(2, (idx - 1) / 4.0), 9) END AS hi,
        |    cnt
        |  FROM bc
        |  UNION ALL
        |  SELECT event_type, -0.5, 0.5, zero_cnt FROM tot WHERE zero_cnt > 0
        |), bounds AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY event_type ORDER BY lo, hi) AS cum
        |  FROM allb
        |), q AS (
        |  SELECT t.event_type,
        |    MAX(CASE WHEN b.cum >= 0.25*t.cnt_all AND b.cum - b.cnt < 0.25*t.cnt_all
        |        THEN b.lo + (b.hi-b.lo) * ((0.25*t.cnt_all - (b.cum-b.cnt)) / b.cnt)
        |        END) AS p25,
        |    MAX(CASE WHEN b.cum >= 0.5*t.cnt_all AND b.cum - b.cnt < 0.5*t.cnt_all
        |        THEN b.lo + (b.hi-b.lo) * ((0.5*t.cnt_all - (b.cum-b.cnt)) / b.cnt)
        |        END) AS p50,
        |    MAX(CASE WHEN b.cum >= 0.9*t.cnt_all AND b.cum - b.cnt < 0.9*t.cnt_all
        |        THEN b.lo + (b.hi-b.lo) * ((0.9*t.cnt_all - (b.cum-b.cnt)) / b.cnt)
        |        END) AS p90,
        |    CAST(SUM(CAST(ROUND(b.cnt * GREATEST(LEAST(
        |      (LEAST(10.0, b.hi) - GREATEST(-10.0, b.lo)) / (b.hi - b.lo),
        |      1.0), 0.0), 6) AS DECIMAL(27,6))) AS DOUBLE) AS frac_num,
        |    CAST(SUM(CASE WHEN b.lo > 0 THEN 1 ELSE 0 END) AS INT) AS n_pos,
        |    CAST(SUM(CASE WHEN b.hi < 0 THEN 1 ELSE 0 END) AS INT) AS n_neg
        |  FROM bounds b JOIN tot t USING (event_type)
        |  GROUP BY 1
        |)
        |SELECT t.event_type, CAST(t.cnt_all AS BIGINT) AS n_samples,
        |  CAST(t.zero_cnt AS BIGINT) AS n_zero,
        |  q.n_pos AS n_pos_buckets, q.n_neg AS n_neg_buckets,
        |  t.sum_all AS sum_value,
        |  ROUND(q.p25, 6) AS p25, ROUND(q.p50, 6) AS p50, ROUND(q.p90, 6) AS p90,
        |  ROUND(q.frac_num / t.cnt_all, 6) AS frac_pm10
        |FROM tot t JOIN q USING (event_type) ORDER BY t.event_type""".stripMargin,
    // Third wire, same twin: the OTLP exponential-histogram roundtrip
    // must land exactly where the classic build and RW2.0 wire land.
    "q202_otlp_exp_histogram" -> q139Twin,
    "q267_exp_histogram_delta" -> q267Twin,

    // Counter-path twin: the engine's increase of cumulative histograms
    // at consecutive marks IS the (mark − 6h, mark] slice histogram, so
    // the twin rebuilds each slice from raw samples with the identical
    // pinned bucket math. 2024-01-10 00:00 UTC = 1704844800; marks k=1..4
    // (the engine's first mark has no predecessor and emits nothing).
    "q142_native_histogram_rate" ->
      """WITH marks AS (
        |  SELECT make_timestamp(1704844800000000 + k * 21600000000) AS mark
        |  FROM (SELECT unnest(generate_series(1, 4)) AS k)
        |), raw AS (
        |  SELECT m.mark, e.event_type, e.value
        |  FROM events e JOIN marks m
        |    ON e.ts > m.mark - INTERVAL 6 HOURS AND e.ts <= m.mark
        |), b AS (
        |  SELECT mark, event_type,
        |         CAST(CEIL(ROUND(LOG2(value)*4, 9)) AS INT) AS idx
        |  FROM raw WHERE value > 0
        |), tot AS (
        |  SELECT mark, event_type, COUNT(*)::DOUBLE AS cnt_all,
        |         ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 2) AS sum_all,
        |         SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END)::DOUBLE AS zero_cnt
        |  FROM raw GROUP BY 1, 2
        |), bc AS (
        |  SELECT mark, event_type, idx, COUNT(*)::DOUBLE AS cnt
        |  FROM b GROUP BY 1, 2, 3
        |), allb AS (
        |  SELECT mark, event_type, idx, cnt,
        |         ROUND(POWER(2, (idx-1)/4.0), 9) AS lo,
        |         ROUND(POWER(2, idx/4.0), 9) AS hi
        |  FROM bc
        |  UNION ALL
        |  SELECT mark, event_type, NULL, zero_cnt, 0.0, 0.0
        |  FROM tot WHERE zero_cnt > 0
        |), bounds AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY mark, event_type
        |                           ORDER BY lo, hi) AS cum
        |  FROM allb
        |), q AS (
        |  SELECT t.mark, t.event_type,
        |         MAX(CASE WHEN b.cum >= 0.9*t.cnt_all AND b.cum - b.cnt < 0.9*t.cnt_all
        |             THEN b.lo + (b.hi-b.lo) * ((0.9*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p90
        |  FROM bounds b JOIN tot t USING (mark, event_type)
        |  GROUP BY 1, 2
        |)
        |SELECT t.event_type, t.mark,
        |       CAST(t.cnt_all AS BIGINT) AS n_inc,
        |       t.sum_all AS sum_inc,
        |       t.cnt_all / 21600.0 AS count_rate,
        |       ROUND(q.p90, 6) AS p90
        |FROM tot t JOIN q USING (mark, event_type)
        |ORDER BY t.event_type, t.mark""".stripMargin,

    // PromQL-surface twin: the instant battery is the histogram of ALL
    // samples at or before the evaluation instant (the cumulative build),
    // the counter battery the (2024-01-10 06:00, 2024-01-11 00:00] slice
    // (first in-window scrape = baseline). avg divides the UNROUNDED
    // decimal sum (the engine divides its raw double sum — equal within
    // the 6-dp print); stdvar's mean uses the 2-dp-pinned sum (q139
    // policy, within its 4-dp print of the engine's raw mean).
    "q143_promql_native_histogram" ->
      """WITH raw AS (
        |  SELECT event_type, value FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-11 00:00:00'
        |), b AS (
        |  SELECT event_type,
        |         CAST(CEIL(ROUND(LOG2(value)*4, 9)) AS INT) AS idx
        |  FROM raw WHERE value > 0
        |), tot AS (
        |  SELECT event_type,
        |         COUNT(*)::DOUBLE AS cnt_all,
        |         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_exact,
        |         ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 2) AS sum_r2,
        |         SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END)::DOUBLE AS zero_cnt
        |  FROM raw GROUP BY 1
        |), bc AS (
        |  SELECT event_type, idx, COUNT(*)::DOUBLE AS cnt FROM b GROUP BY 1, 2
        |), allb AS (
        |  SELECT event_type, idx, cnt,
        |         ROUND(POWER(2, (idx-1)/4.0), 9) AS lo,
        |         ROUND(POWER(2, idx/4.0), 9) AS hi
        |  FROM bc
        |  UNION ALL
        |  SELECT event_type, NULL, zero_cnt, 0.0, 0.0 FROM tot WHERE zero_cnt > 0
        |), bounds AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY event_type ORDER BY lo, hi) AS cum
        |  FROM allb
        |), q AS (
        |  SELECT t.event_type,
        |         MAX(CASE WHEN b.cum >= 0.9*t.cnt_all AND b.cum - b.cnt < 0.9*t.cnt_all
        |             THEN b.lo + (b.hi-b.lo) * ((0.9*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p90,
        |         CAST(SUM(CAST(CASE WHEN b.hi = b.lo
        |             THEN (CASE WHEN 1 <= b.lo AND b.hi <= 100 THEN ROUND(b.cnt, 6) ELSE 0 END)
        |             ELSE ROUND(b.cnt * GREATEST(0, LEAST((LEAST(100, b.hi) - GREATEST(1, b.lo)) / (b.hi - b.lo), 1)), 6) END AS DECIMAL(27,6))) AS DOUBLE) AS frac_num,
        |         CAST(SUM(CAST(ROUND(b.cnt * ((b.lo+b.hi)/2 - t.sum_r2/t.cnt_all) * ((b.lo+b.hi)/2 - t.sum_r2/t.cnt_all), 6) AS DECIMAL(27,6))) AS DOUBLE) AS ss
        |  FROM bounds b JOIN tot t USING (event_type)
        |  GROUP BY 1
        |), sraw AS (
        |  SELECT event_type, value FROM events
        |  WHERE ts > TIMESTAMP '2024-01-10 06:00:00'
        |    AND ts <= TIMESTAMP '2024-01-11 00:00:00'
        |), sb AS (
        |  SELECT event_type,
        |         CAST(CEIL(ROUND(LOG2(value)*4, 9)) AS INT) AS idx
        |  FROM sraw WHERE value > 0
        |), stot AS (
        |  SELECT event_type, COUNT(*)::DOUBLE AS cnt_all,
        |         SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END)::DOUBLE AS zero_cnt
        |  FROM sraw GROUP BY 1
        |), sbc AS (
        |  SELECT event_type, idx, COUNT(*)::DOUBLE AS cnt FROM sb GROUP BY 1, 2
        |), sallb AS (
        |  SELECT event_type, idx, cnt,
        |         ROUND(POWER(2, (idx-1)/4.0), 9) AS lo,
        |         ROUND(POWER(2, idx/4.0), 9) AS hi
        |  FROM sbc
        |  UNION ALL
        |  SELECT event_type, NULL, zero_cnt, 0.0, 0.0 FROM stot WHERE zero_cnt > 0
        |), sbounds AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY event_type ORDER BY lo, hi) AS cum
        |  FROM sallb
        |), sq AS (
        |  SELECT t.event_type,
        |         MAX(CASE WHEN b.cum >= 0.9*t.cnt_all AND b.cum - b.cnt < 0.9*t.cnt_all
        |             THEN b.lo + (b.hi-b.lo) * ((0.9*t.cnt_all - (b.cum-b.cnt)) / b.cnt) END) AS p90
        |  FROM sbounds b JOIN stot t USING (event_type)
        |  GROUP BY 1
        |)
        |SELECT t.event_type,
        |       CAST(t.cnt_all AS BIGINT) AS n_samples,
        |       t.sum_r2 AS sum_value,
        |       ROUND(t.sum_exact / t.cnt_all, 6) AS avg_value,
        |       ROUND(SQRT(q.ss / t.cnt_all), 4) AS stddev,
        |       ROUND(q.ss / t.cnt_all, 4) AS stdvar,
        |       ROUND(q.frac_num / t.cnt_all, 6) AS frac_1_100,
        |       ROUND(q.p90, 6) AS p90,
        |       CAST(st.cnt_all AS BIGINT) AS n_inc,
        |       ROUND(sq.p90, 6) AS p90_rate
        |FROM tot t
        |JOIN q USING (event_type)
        |JOIN stot st USING (event_type)
        |JOIN sq USING (event_type)
        |ORDER BY t.event_type""".stripMargin,

    // NHCB twin: classic bucketQuantile over the same bounds — first
    // finite bound whose cumulative count reaches φ·n is the hit bucket
    // (lower bound = previous bound, 0 for the first); no finite bound
    // reaching it means the +Inf bucket, which returns the highest
    // finite bound. φ is cast to DOUBLE before multiplying so both
    // engines compare and interpolate the identical IEEE values.
    // n_buckets counts populated buckets (+Inf included), matching the
    // sparse NHCB layout after merge.
    "q182_nhcb_histogram" ->
      """WITH b AS (
        |  SELECT event_type AS metric, value FROM events
        |), tot AS (
        |  SELECT metric, count(*) AS n FROM b GROUP BY 1
        |), bounds(le) AS (
        |  VALUES (1.0),(5.0),(10.0),(50.0),(100.0)
        |), cum AS (
        |  SELECT v.metric, CAST(bo.le AS DOUBLE) AS le,
        |    sum(CASE WHEN v.value <= bo.le THEN 1 ELSE 0 END) AS cum
        |  FROM b v CROSS JOIN bounds bo GROUP BY 1, 2
        |), nb AS (
        |  SELECT metric, count(DISTINCT CASE
        |      WHEN value <= 1.0 THEN 1.0 WHEN value <= 5.0 THEN 5.0
        |      WHEN value <= 10.0 THEN 10.0 WHEN value <= 50.0 THEN 50.0
        |      WHEN value <= 100.0 THEN 100.0
        |      ELSE 'Infinity'::DOUBLE END) AS n_buckets
        |  FROM b GROUP BY 1
        |), phis(phi) AS (
        |  VALUES (0.5),(0.9),(0.99)
        |), walk AS (
        |  SELECT c.metric, CAST(p.phi AS DOUBLE) AS phi, c.le, c.cum,
        |    lag(c.cum, 1, 0) OVER w AS prevcum,
        |    coalesce(lag(c.le) OVER w, 0.0) AS lower,
        |    t.n
        |  FROM cum c JOIN tot t USING (metric) CROSS JOIN phis p
        |  WINDOW w AS (PARTITION BY c.metric, p.phi ORDER BY c.le)
        |), hits AS (
        |  SELECT metric, phi,
        |    CASE WHEN count(*) FILTER (WHERE cum >= phi * n) = 0
        |      THEN max(le)  -- +Inf bucket: highest finite bound
        |      ELSE arg_min(
        |        lower + (le - lower) * ((phi*n - prevcum) / (cum - prevcum)),
        |        le) FILTER (WHERE cum >= phi * n)
        |    END AS q
        |  FROM walk GROUP BY 1, 2
        |)
        |SELECT t.metric, CAST(t.n AS BIGINT) AS n_obs, nb.n_buckets,
        |  round(max(CASE WHEN h.phi = 0.5  THEN h.q END), 6) AS p50,
        |  round(max(CASE WHEN h.phi = 0.9  THEN h.q END), 6) AS p90,
        |  round(max(CASE WHEN h.phi = 0.99 THEN h.q END), 6) AS p99
        |FROM tot t JOIN nb USING (metric) JOIN hits h USING (metric)
        |GROUP BY 1, 2, 3 ORDER BY t.metric""".stripMargin,

    // q182's twin sliced at the newest scrape mark (ts ≤ T): the PromQL
    // face serves the cumulative NHCB at T, so the classic bucketQuantile
    // walk over events up to T reproduces every figure.
    "q188_promql_nhcb" ->
      """WITH b AS (
        |  SELECT event_type, value FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-11 00:00:00'
        |), tot AS (
        |  SELECT event_type, count(*) AS n FROM b GROUP BY 1
        |), bounds(le) AS (
        |  VALUES (1.0),(5.0),(10.0),(50.0),(100.0)
        |), cum AS (
        |  SELECT v.event_type, CAST(bo.le AS DOUBLE) AS le,
        |    sum(CASE WHEN v.value <= bo.le THEN 1 ELSE 0 END) AS cum
        |  FROM b v CROSS JOIN bounds bo GROUP BY 1, 2
        |), phis(phi) AS (
        |  VALUES (0.5),(0.9),(0.99)
        |), walk AS (
        |  SELECT c.event_type, CAST(p.phi AS DOUBLE) AS phi, c.le, c.cum,
        |    lag(c.cum, 1, 0) OVER w AS prevcum,
        |    coalesce(lag(c.le) OVER w, 0.0) AS lower,
        |    t.n
        |  FROM cum c JOIN tot t USING (event_type) CROSS JOIN phis p
        |  WINDOW w AS (PARTITION BY c.event_type, p.phi ORDER BY c.le)
        |), hits AS (
        |  SELECT event_type, phi,
        |    CASE WHEN count(*) FILTER (WHERE cum >= phi * n) = 0
        |      THEN max(le)
        |      ELSE arg_min(
        |        lower + (le - lower) * ((phi*n - prevcum) / (cum - prevcum)),
        |        le) FILTER (WHERE cum >= phi * n)
        |    END AS q
        |  FROM walk GROUP BY 1, 2
        |)
        |SELECT t.event_type, CAST(t.n AS BIGINT) AS n_obs,
        |  round(max(CASE WHEN h.phi = 0.5  THEN h.q END), 6) AS p50,
        |  round(max(CASE WHEN h.phi = 0.9  THEN h.q END), 6) AS p90,
        |  round(max(CASE WHEN h.phi = 0.99 THEN h.q END), 6) AS p99
        |FROM tot t JOIN hits h USING (event_type)
        |GROUP BY 1, 2 ORDER BY t.event_type""".stripMargin)
}
