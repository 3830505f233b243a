package graft.queries

import graft.Tables._
import graft.metrics.{AlertRules, PromQl, PromQlParser, RecordingRules}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** PromQL query-semantics parity (P1/P14 depth): the reference consumes
  * `query_range` pulls and its scores are scraped back into Prometheus, so
  * the engine ships the three canonical PromQL behaviors as declared,
  * oracle-checked queries — counter `increase()`/`resets()` with reset
  * handling, instant-vector staleness lookback, and
  * `histogram_quantile()` interpolation. Implementations in
  * `graft.metrics.PromQl`.
  */
object PromQlQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // increase()/resets(): per-series adjacent deltas, value drops count
    // from zero (the Prometheus counter-reset rule), rolled up per
    // (metric, day). Decimal-routed sum: contributions are rounded then
    // summed exactly, so partition order can't move a digit.
    "q89_counter_increase" -> ((s, d) => {
      PromQl.counterIncrease(events(s, d),
        Seq("user_id", "event_type"), "ts", "event_id", "value")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("reset")).cast("long").as("n_resets"),
          round(sum(round(col("inc"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_increase"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Instant query at T with a 24h staleness lookback: latest sample per
    // (user, metric) series, stale series drop out; per-metric rollup.
    "q90_instant_query" -> ((s, d) => {
      PromQl.instantVector(events(s, d), Seq("user_id", "event_type"),
        "ts", "event_id", "2024-01-15 12:00:00", "24 HOURS")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_series"),
          round(sum(round(col("value"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_value"),
          round(max(col("value")), 6).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // rate(): the reset-aware increase over a trailing 6h range window,
    // per second — the single most-used PromQL function. The rollup sums
    // the EXACT decimal window sums and divides once at the end (summing
    // 6-dp-rounded per-sample quotients hit a round-half boundary the two
    // engines resolved differently at sf0.1); max is order-insensitive
    // over bit-identical quotients.
    "q95_rate" -> ((s, d) => {
      PromQl.rate(events(s, d), Seq("user_id", "event_type"),
          "ts", "event_id", "value", windowSec = 21600)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_samples"),
          round(sum(col("rate_winsum")).cast("double") / 21600, 4).as("sum_rate"),
          round(max(col("rate")), 6).as("max_rate"))
        .orderBy(col("event_type"), col("day"))
    }),

    // topk(3, v by (event_type)): vector aggregation over the instant
    // vector at T — the 3 largest-valued series per metric, ties on
    // user_id so the selection is total-ordered.
    "q96_promql_topk" -> ((s, d) => {
      val iv = PromQl.instantVector(events(s, d), Seq("user_id", "event_type"),
        "ts", "event_id", "2024-01-15 12:00:00", "24 HOURS")
      PromQl.topk(iv, 3, Seq("event_type"), "value", Seq("user_id"))
        .select(col("event_type"), col("rank"), col("user_id"),
          round(col("value"), 6).as("value"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // *_over_time over a trailing 12h range window per series
    // (sum/count/max/min_over_time), rolled up per metric. The rollup
    // consumes sum_ot/count_ot (exact decimals), not the avg_ot quotient —
    // see PromQl.overTime's determinism note.
    "q97_over_time" -> ((s, d) => {
      PromQl.overTime(events(s, d), Seq("user_id", "event_type"),
          "ts", "value", windowSec = 43200)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_samples"),
          round(sum(col("sum_ot")).cast("double"), 4).as("total_ot"),
          round(max(col("max_ot")), 6).as("max_max_ot"),
          round(min(col("min_ot")), 6).as("min_min_ot"),
          sum(col("count_ot")).as("sum_count_ot"))
        .orderBy(col("event_type"))
    }),

    // The PromQL PARSER end-to-end: a query STRING compiled onto the
    // PromQl transforms. topk over per-series rate — rank on the raw
    // doubles (identical cross-engine), round only in the output; the
    // final round-9 is half-boundary-safe because the rate divisor 86400
    // carries a factor of 3 (non-terminating decimal quotient).
    "q100_promql_parse_topk" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src, "topk(3, rate(purchase[24h]))",
          "2024-01-15 12:00:00")
        .select(col("rank"), col("user_id"), col("event_type"),
          round(col("value"), 9).as("value"))
        .orderBy(col("rank"))
    }),

    // Parser: anchored negative-regex matcher + range aggregation +
    // vector aggregation, one string.
    "q101_promql_parse_agg" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src,
          """sum by (event_type) (max_over_time({event_type!~"err.*"}[12h]))""",
          "2024-01-15 12:00:00")
        .select(col("event_type"), round(col("value"), 4).as("value"))
        .orderBy(col("event_type"))
    }),

    // Parser: gauge delta (last − first per series over the window),
    // rolled up with the decimal discipline.
    "q102_promql_delta" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src, "sum by (event_type) (delta(signup[24h]))",
          "2024-01-15 12:00:00")
        .select(col("event_type"), round(col("value"), 4).as("value"))
        .orderBy(col("event_type"))
    }),

    // Parser: irate (last-two-samples instantaneous rate, reset-aware);
    // max is order-insensitive so the rollup is FP-safe.
    "q103_promql_irate" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src,
          """max by (event_type) (irate({event_type=~"click|view"}[24h]))""",
          "2024-01-15 12:00:00")
        .select(col("event_type"), round(col("value"), 6).as("value"))
        .orderBy(col("event_type"))
    }),

    // PromQL BINARY OPERATOR (vector / vector): the ratio of two rates —
    // the reference's own derived-metric shape ("fuzzy error rate"). The
    // two sides match on user_id (all-common-labels after `sum by`), and
    // the inner join drops label-mismatched series — users with clicks but
    // no views vanish, exactly Prometheus.
    "q104_promql_binop_ratio" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src,
          "sum by (user_id) (rate(click[24h])) / sum by (user_id) (rate(view[24h]))",
          "2024-01-15 12:00:00")
        .select(col("user_id"), round(col("value"), 6).as("value"))
        .orderBy(col("user_id"))
    }),

    // Binary operator with an explicit on(...) matching clause: per-series
    // range spread (max_over_time − min_over_time), FP-order-safe since
    // max/min are order-insensitive and the difference is one subtraction.
    "q105_promql_binop_diff" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src,
          "max_over_time(purchase[24h]) - on (user_id, event_type) min_over_time(purchase[24h])",
          "2024-01-15 12:00:00")
        .select(col("user_id"), col("event_type"), round(col("value"), 6).as("value"))
        .orderBy(col("user_id"))
    }),

    // histogram_quantile THROUGH THE PARSER, on the Prometheus bucket data
    // model: cumulative le-labeled bucket series built from raw samples
    // (each sample lands in every bucket at/above its value), counted per
    // series over the window, summed to per-(metric, le) cumulative
    // counts, then interpolated — `histogram_quantile(0.9, sum by (...,
    // le) (count_over_time(...)))`, the canonical Prometheus idiom.
    "q106_promql_histogram" -> ((s, d) => {
      val ev = events(s, d)
      val buckets = ev.select(
        col("user_id"), col("event_type"), col("ts"), col("event_id"),
        explode(array_compact(array(
          when(col("value") <= 10, lit("10")),
          when(col("value") <= 25, lit("25")),
          when(col("value") <= 50, lit("50")),
          when(col("value") <= 100, lit("100")),
          when(col("value") <= 250, lit("250")),
          lit("+Inf")))).as("le"),
        col("value"))
      val src = PromQlParser.PromSource(buckets, "event_type",
        Seq("user_id", "event_type", "le"), "ts", "event_id", "value")
      PromQlParser.eval(src,
          """histogram_quantile(0.9, sum by (event_type, le) (count_over_time({le=~".+"}[24h])))""",
          "2024-01-15 12:00:00")
        .select(col("event_type"), round(col("value"), 6).as("quantile_value"))
        .orderBy(col("event_type"))
    }),

    // query_range: rate() evaluated on a step grid (9 steps × 3h over one
    // day, 6h range window) — the reference fetcher's actual contract
    // (query, start, end, step) → per-step values. Counter resets fall
    // inside step windows and contribute via the reset rule. Scale shape:
    // each adjacent sample pair explodes onto ≤ window/step = 2 grid
    // cells; no per-step loop, no range join.
    "q107_range_rate" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.evalRange(src, "rate(purchase[6h])",
          "2024-01-14 00:00:00", "2024-01-15 00:00:00", stepSec = 10800)
        .select(col("user_id"), col("event_type"), col("step_ts"),
          round(col("value"), 9).as("value"))
        .orderBy(col("user_id"), col("event_type"), col("step_ts"))
    }),

    // query_range: instant-vector selector with `offset` on the grid,
    // aggregated with `without` — per step, the latest sample per series
    // within the (shifted) staleness lookback, summed across users.
    "q108_range_instant" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.evalRange(src,
          """sum without (user_id) ({event_type=~"click|view"} offset 1h)""",
          "2024-01-14 00:00:00", "2024-01-15 00:00:00", stepSec = 10800,
          lookbackSec = 7200)
        .select(col("event_type"), col("step_ts"),
          round(col("value"), 4).as("value"))
        .orderBy(col("event_type"), col("step_ts"))
    }),

    // Comparison operators through the parser: the reference's
    // static-threshold output stage is `expr > N` — filter mode keeps the
    // sample's own value; the same expression under `bool` projects
    // 1.0/0.0 for every sample. One query exercises both faces: filter
    // rows carry op='gt', bool rows op='gt_bool' (only the 1.0 hits, so
    // the two row sets coincide and the values differ).
    "q109_promql_cmp" -> ((s, d) => {
      val src = eventsSrc(s, d)
      val filt = PromQlParser.eval(src, """{event_type=~".+"} > 120""",
          "2024-01-15 12:00:00", lookback = "24 HOURS")
        .withColumn("op", lit("gt"))
      val boolv = PromQlParser.eval(src, """{event_type=~".+"} > bool 120""",
          "2024-01-15 12:00:00", lookback = "24 HOURS")
        .filter(col("value") === 1.0)
        .withColumn("op", lit("gt_bool"))
      filt.unionByName(boolv)
        .select(col("op"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("op"), col("user_id"), col("event_type"))
    }),

    // Set operators through the parser: click series for users who also
    // have a purchase series (`and` = left-semi on the match key) and for
    // users who do not (`unless` = left-anti) — together they partition
    // the click instant vector.
    "q110_promql_setops" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("op", lit(tag))
      run("""{event_type="click"} and ignoring (event_type) {event_type="purchase"}""", "and")
        .unionByName(
          run("""{event_type="click"} unless ignoring (event_type) {event_type="purchase"}""", "unless"))
        .select(col("op"), col("user_id"), round(col("value"), 6).as("value"))
        .orderBy(col("op"), col("user_id"))
    }),

    // group_left many-to-one matching: each series' share of its user's
    // total — per-series vectors over a user-level aggregate, the rollouts
    // canary join shape (per-hash_id series over a namespace aggregate).
    // The many (lhs) side keeps its labels; division routes through the
    // IEEE zero-divisor branches (totals here are sums of nonnegative
    // rounded samples, and a zero total forces every contributing sample
    // to round to 0, so the oracle's 0/0 → NaN branch is reachable only
    // when engine and oracle agree on it).
    "q111_promql_group_left" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src,
          """{event_type=~".+"} / on (user_id) group_left sum by (user_id) ({event_type=~".+"})""",
          "2024-01-15 12:00:00", lookback = "24 HOURS")
        .select(col("user_id"), col("event_type"),
          round(col("value"), 6).as("share"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Aggregation round-out through the parser: stddev/stdvar (POPULATION
    // moments, the Prometheus definition) and quantile (linear
    // interpolation) per metric over the instant vector. stddev routes
    // through sqrt(var_pop); round 6 absorbs the engines' last-ulp moment
    // differences (the q62 precedent).
    "q113_promql_agg_ext" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("fn", lit(tag))
      run("""stddev by (event_type) ({event_type=~".+"})""", "stddev")
        .unionByName(run("""stdvar by (event_type) ({event_type=~".+"})""", "stdvar"))
        .unionByName(run("""quantile by (event_type) (0.9, {event_type=~".+"})""", "quantile"))
        .select(col("fn"), col("event_type"), round(col("value"), 6).as("value"))
        .orderBy(col("fn"), col("event_type"))
    }),

    // absent() through the parser: one 1.0-sample (labels from the
    // equality matchers) for a selector that matches nothing, empty for a
    // live one — the alerting primitive for dead series. Both faces in one
    // result, presence derived from the data on both engines.
    "q114_promql_absent" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("absent(nosuch_metric)", "missing")
        .unionByName(run("absent(click)", "present"))
        .select(col("which"), col("value"))
        .orderBy(col("which"))
    }),

    // Scalar vector functions + label manipulation through the parser in
    // one expression: PromQL round (ties-up to a multiple), clamp, and
    // label_join building a composite series label. Every step is a fixed
    // double-arithmetic expression (×/÷ by 0.5 and floor are exact), so
    // the twin is bit-identical.
    "q115_promql_fns" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src,
          """label_join(clamp(round({event_type=~".+"}, 0.5), 10, 200), "series", "|", "user_id", "event_type")""",
          "2024-01-15 12:00:00", lookback = "24 HOURS")
        .select(col("user_id"), col("event_type"), col("series"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // *_over_time round-out per series (last / quantile / stddev over a
    // trailing 12h window) — three faces of the same grouped-window shape,
    // tagged and unioned.
    "q116_promql_over_time_ext" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00")
          .withColumn("fn", lit(tag))
      run("""last_over_time({event_type="purchase"}[12h])""", "last")
        .unionByName(run("""quantile_over_time(0.5, {event_type="purchase"}[12h])""", "q50"))
        .unionByName(run("""stddev_over_time({event_type="purchase"}[12h])""", "stddev"))
        .select(col("fn"), col("user_id"), round(col("value"), 6).as("value"))
        .orderBy(col("fn"), col("user_id"))
    }),

    // deriv/predict_linear: least-squares trend per series from EXACT
    // decimal sums (x = micros before T as DECIMAL(14,0), y = 6-dp-rounded
    // DECIMAL) with the slope/intercept arithmetic one fixed double
    // expression — the only cross-engine-deterministic way to oracle an
    // FP regression. predict_linear extrapolates 1h past T.
    "q117_promql_deriv" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00")
          .withColumn("fn", lit(tag))
      run("""deriv({event_type="click"}[24h])""", "deriv")
        .unionByName(run("""predict_linear({event_type="click"}[24h], 3600)""", "predict"))
        .select(col("fn"), col("user_id"), round(col("value"), 9).as("value"))
        .orderBy(col("fn"), col("user_id"))
    }),

    // Subquery — the canonical alerting idiom `max_over_time(rate(...)[R:S])`:
    // the inner rate evaluates on an absolute-aligned 3h grid over the
    // CLOSED trailing [T−12h, T] — five points, the upstream
    // "range/step + 1" rule (one generate-project through the SAME
    // GridCompiler as query_range), and the outer max folds per series.
    "q118_promql_subquery" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src, "max_over_time(rate(purchase[6h])[12h:3h])",
          "2024-01-15 12:00:00")
        .select(col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user_id"))
    }),

    // Subquery `offset` / `@` (upstream allows both on subqueries): the
    // whole subquery window shifts/pins — `[12h:3h] offset 6h` evaluated
    // at 12:00 and `[12h:3h] @ 06:00-epoch` evaluated at 12:00 must both
    // equal the plain subquery evaluated at 06:00, through two different
    // code paths (end-instant shift vs pin). The oracle computes the
    // 06:00-anchored result once and emits both branch copies.
    "q162_subquery_offset" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00")
          .withColumn("which", lit(tag))
      run("max_over_time(rate(purchase[6h])[12h:3h] offset 6h)", "off")
        .unionByName(
          run("max_over_time(rate(purchase[6h])[12h:3h] @ 1705298400)", "at"))
        .select(col("which"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("user_id"))
    }),

    // Subquery ON the query_range grid: the inner rate evaluates once on
    // a shared absolute-aligned 3h fine grid (covering the first step's
    // closed window), and each fine sample folds onto the outer 6h steps
    // whose CLOSED trailing 6h window holds it — inner work scales with
    // fine-grid size, not outer-steps × substeps.
    "q119_range_subquery" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.evalRange(src, "max_over_time(rate(purchase[6h])[6h:3h])",
          "2024-01-14 00:00:00", "2024-01-15 00:00:00", stepSec = 21600)
        .select(col("user_id"), col("event_type"), col("step_ts"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user_id"), col("event_type"), col("step_ts"))
    }),

    // Counter-shape functions through the parser: resets (counter drops),
    // changes (value transitions), idelta (last difference) per series
    // over a trailing 24h window — integer counts and one exact
    // subtraction, so the twin matches bit-for-bit.
    "q120_promql_counter_fns" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00")
          .withColumn("fn", lit(tag))
      run("""resets({event_type=~".+"}[24h])""", "resets")
        .unionByName(run("""changes({event_type=~".+"}[24h])""", "changes"))
        .unionByName(run("""idelta({event_type=~".+"}[24h])""", "idelta"))
        .select(col("fn"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("fn"), col("user_id"), col("event_type"))
    }),

    // time() on the query_range grid: each live (series, step) cell
    // projects its own evaluation instant — the building block of
    // age-style expressions (`time() - last_seen`). Presence per step via
    // the 2h lookback; the value is exactly the step's epoch second.
    "q121_promql_time" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.evalRange(src, """{event_type=~"click|view"} * 0 + time()""",
          "2024-01-14 00:00:00", "2024-01-15 00:00:00", stepSec = 10800,
          lookbackSec = 7200)
        .select(col("user_id"), col("event_type"), col("step_ts"),
          round(col("value"), 1).as("value"))
        .orderBy(col("user_id"), col("event_type"), col("step_ts"))
    }),

    // The canonical staleness-alerting expression: seconds since each
    // series' last sample — time() (scalar-on-left arithmetic) minus
    // timestamp() (newest in-lookback sample's epoch). Epoch arithmetic
    // on identical doubles, so the twin matches exactly.
    "q122_promql_age" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src, """time() - timestamp({event_type=~".+"})""",
          "2024-01-15 12:00:00", lookback = "24 HOURS")
        .select(col("user_id"), col("event_type"),
          round(col("value"), 6).as("age_sec"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // count_values: series-cardinality per distinct sample value, the
    // value carried as a string label. The label goes through the
    // engine's EXPLICIT formatting rule (fixed-point 6-dp, trailing
    // zeros trimmed) mirrored verbatim in the twin — default double
    // printing diverges between engines at 1e7 (Java goes scientific).
    "q123_promql_count_values" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src,
          """count_values by (event_type) ("v", {event_type=~".+"})""",
          "2024-01-15 12:00:00", lookback = "24 HOURS")
        .select(col("event_type"), col("v"), col("value"))
        .orderBy(col("event_type"), col("v"))
    }),

    // sort/sort_desc + scalar()/vector() through the parser. "sorted"
    // exercises the value-ordered output path (ordering is presentation-
    // only — the compare is row-set based — so the oracle pins the set);
    // "fallback" is the `or vector(0)` default idiom over an empty vector
    // (full-label-set `or` matching appends the no-label rhs sample);
    // "scaled" divides a vector by scalar(count(...)) — the one-row
    // scalar frame broadcast-joins back, no driver-side collect.
    "q124_promql_sort_scalar_vector" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""sort_desc(sum by (event_type) ({event_type=~".+"}))""", "sorted")
        .unionByName(
          run("""sum by (event_type) (nosuch_metric) or vector(0)""", "fallback"),
          allowMissingColumns = true)
        .unionByName(
          run("""sum by (event_type) ({event_type=~".+"}) / scalar(count({event_type=~".+"}))""",
            "scaled"),
          allowMissingColumns = true)
        .select(col("which"),
          coalesce(col("event_type"), lit("")).as("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("event_type"))
    }),

    // Time-component functions: hour() gating — the alert-silencing
    // idiom `expr and on() hour() >= 6`, where on() matches everything
    // against the one-element no-label hour vector — its complementary
    // (empty) night branch, and day_of_week over timestamp() (the
    // vector-argument form: each sample's epoch value replaced by its
    // UTC component; engine Sunday=0 = DuckDB's dayofweek numbering).
    "q125_promql_time_components" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""{event_type=~".+"} > 100 and on() hour() >= 6""", "day")
        .unionByName(run("""{event_type=~".+"} > 100 and on() hour() < 6""", "night"))
        .unionByName(run("""day_of_week(timestamp({event_type="click"}))""", "dow"))
        .select(col("which"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("user_id"), col("event_type"))
    }),

    // The @ modifier: a FIXED evaluation instant pinning a subexpression
    // to an absolute time regardless of the query's own eval time, with
    // offset composing RELATIVE to the pin (the Prometheus rule). The
    // query evaluates at 2024-01-16 00:00 but the pinned branches read
    // the 15th at 10:00 / 08:00; the plain-offset branch reads 12:00.
    "q126_promql_at_modifier" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-16 00:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""sum by (event_type) ({event_type=~".+"} @ 1705312800)""", "at")
        .unionByName(
          run("""sum by (event_type) ({event_type=~".+"} @ 1705312800 offset 2h)""", "at_offset"))
        .unionByName(
          run("""sum by (event_type) ({event_type=~".+"} offset 12h)""", "plain_offset"))
        .select(col("which"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy(col("which"), col("event_type"))
    }),

    // holt_winters (double exponential smoothing): an ORDER-SENSITIVE
    // recursion, so it folds the assembled sorted window array left-to-
    // right (see PromQlParser.holtWinters — it cannot ride the
    // commutative-agg path). The twin replays the identical IEEE-double
    // recursion with a recursive CTE (DuckDB 1.0's list_reduce mutates
    // the accumulator struct field-by-field, so the lambda form is
    // unusable for interdependent state). sf=0.5/tf=0.25: every constant
    // is an exact double, so both engines fold bit-identically.
    "q127_promql_holt_winters" -> ((s, d) => {
      val src = eventsSrc(s, d)
      PromQlParser.eval(src, """holt_winters({event_type="click"}[24h], 0.5, 0.25)""",
          "2024-01-15 12:00:00")
        .select(col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("user_id"))
    }),

    // absent_over_time: absence over the RANGE window (vs absent()'s
    // staleness lookback) — one 1.0-sample with the selector's equality-
    // matcher labels iff no sample landed in the window; the anti-join
    // probe shape keeps the plan lazy/distributed. Presence is derived
    // from the data on both engines (NOT EXISTS on the twin).
    "q128_promql_absent_over_time" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00")
          .withColumn("which", lit(tag))
      run("""absent_over_time(nosuch_metric[24h])""", "missing")
        .unionByName(
          run("""absent_over_time(nosuch_metric{user_id="42"}[24h])""", "labeled"),
          allowMissingColumns = true)
        .unionByName(run("""absent_over_time(click[24h])""", "present"),
          allowMissingColumns = true)
        .select(col("which"),
          coalesce(col("user_id").cast("string"), lit("")).as("user_id"),
          col("value"))
        .orderBy(col("which"))
    }),

    // limitk + sort_by_label (upstream's experimental aggregators, made
    // deterministic): limitk keeps the lexical first k series per group
    // — ANY k-subset satisfies the operator's contract, and a
    // deterministic rule is the one an oracle can verify; sort_by_label
    // is presentation-only (row set pinned by the twin).
    "q133_promql_limitk" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""limitk(2, {event_type=~".+"}) by (event_type)""", "limited")
        .unionByName(
          run("""sort_by_label_desc({event_type="click"}, "user_id")""", "sorted"))
        .select(col("which"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("event_type"), col("user_id"))
    }),

    // limit_ratio: deterministic ratio-sampling by label-tuple md5 — the
    // head (r) and tail (r−1) branches partition the instant vector
    // exactly, and the twin recomputes the identical md5 fraction, so
    // the KEPT SET itself is oracle-checked, not just its size.
    "q140_promql_limit_ratio" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""limit_ratio(0.3, {event_type=~".+"})""", "head")
        .unionByName(run("""limit_ratio(-0.7, {event_type=~".+"})""", "tail"))
        .select(col("which"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("event_type"), col("user_id"))
    }),

    // keep_firing_for: a firing run's end emits a kept-firing tail. With
    // keep (30m) < step (1h), keepSteps = 0 → exactly ONE kept row per
    // firing run end and bridging is structurally impossible, so the twin
    // needs no recursion (the bridging semantics are pinned in
    // AlertRulesSpec on synthetic series instead). Kept rows carry the
    // run's last sample value.
    "q138_alert_keep_firing" -> ((s, d) => {
      val src = eventsSrc(s, d)
      AlertRules.evalRule(src,
        AlertRules.Rule("KeepFire",
          """sum by (event_type) (count_over_time({event_type=~".+"}[2h])) > 0 and on() hour() >= 18""",
          forSec = 3 * 3600, keepFiringSec = 1800),
        "2024-01-15 00:00:00", "2024-01-16 23:00:00", stepSec = 3600)
        .select(col("alertname"), col("event_type"), col("step_ts"),
          col("alertstate"), round(col("value"), 6).as("value"))
        .orderBy(col("event_type"), col("step_ts"))
    }),

    // [N] keep_firing_for with keepSteps > 0 — the BRIDGING branch q138
    // structurally cannot reach (its keep < step), now hash-checked: for
    // 2h / keep 2h on an hourly grid, with a flickering condition
    // (hour() % 5 < 3, hours ≥ 22 forced off, and data holes where an
    // hour carries no events) that produces 3-step runs, 2-step bridged
    // gaps, and longer resetting gaps. The oracle replays the per-series
    // state machine as a BOUNDED recursive CTE over active-step ranks
    // (≤ #grid steps iterations) — bridge keeps the ORIGINAL run start,
    // kept tails clip at min(prev+1+K, maxIdx, next−1) and carry the
    // run's last value — so the typed fold's every branch hashes green.
    "q257_alert_keep_bridging" -> ((s, d) => {
      val src = eventsSrc(s, d)
      AlertRules.evalRule(src,
        AlertRules.Rule("KeepBridge",
          """sum by (event_type) (count_over_time({event_type=~".+"}[1h])) > 0 and on() hour() % 5 < 3 and on() hour() < 22""",
          forSec = 2 * 3600, keepFiringSec = 2 * 3600),
        "2024-01-14 00:00:00", "2024-01-16 23:00:00", stepSec = 3600)
        .select(col("alertname"), col("event_type"), col("step_ts"),
          col("alertstate"), round(col("value"), 6).as("value"))
        .orderBy(col("event_type"), col("step_ts"))
    }),

    // The remaining arithmetic operators: % (Go math.Mod — fmod in both
    // engines, an EXACT double operation), ^ (libm pow; the pow branch
    // goes through abs so negative bases can't produce NaN rows), and
    // the atan2 binary operator (total, well-conditioned; 6-dp rounding
    // absorbs last-ulp libm differences, the trig-battery rule).
    "q137_promql_arith_ops" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""{event_type=~".+"} % 10""", "mod")
        .unionByName(run("""abs({event_type=~".+"}) ^ 0.5""", "pow"))
        .unionByName(run("""{event_type=~".+"} atan2 10""", "atan2"))
        .select(col("which"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("user_id"), col("event_type"))
    }),

    // Recording-rule materialization: per-hour click counts recorded as
    // `hourly:clicks`, then an ordinary PromQL query over the RECORDED
    // metric — max and sum of the hourly series across the day. The
    // recorded frame is a plan (grid eval + union), not a buffer, so the
    // whole composition stays one declarative plan.
    "q136_recording_rule" -> ((s, d) => {
      val src0 = eventsSrc(s, d)
      val rec = RecordingRules.materialize(src0, "hourly:clicks",
        """sum by (event_type) (count_over_time({event_type="click"}[1h]))""",
        "2024-01-15 00:00:00", "2024-01-15 23:00:00", stepSec = 3600)
      def run(q: String, tag: String) =
        PromQlParser.eval(rec, q, "2024-01-16 00:00:00")
          .withColumn("which", lit(tag))
      run("""max_over_time({event_type="hourly:clicks"}[24h])""", "max")
        .unionByName(
          run("""sum_over_time({event_type="hourly:clicks"}[24h])""", "sum"))
        .select(col("which"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"))
    }),

    // Alerting-rule evaluation (the rule-group half of the Query Service):
    // the expr gates on hour() >= 18, so each day contributes one
    // deterministic active run per event_type — pending for the first
    // three steps of the run (elapsed < for=3h), firing from the fourth.
    // The state machine is ONE window pass (gaps-and-islands); the twin
    // replays it with the same lag + ignore-nulls carry.
    "q135_alert_rules" -> ((s, d) => {
      val src = eventsSrc(s, d)
      AlertRules.evalRule(src,
        AlertRules.Rule("HighTraffic",
          """sum by (event_type) (count_over_time({event_type=~".+"}[2h])) > 0 and on() hour() >= 18""",
          forSec = 3 * 3600),
        "2024-01-15 00:00:00", "2024-01-16 23:00:00", stepSec = 3600)
        .select(col("alertname"), col("event_type"), col("step_ts"),
          col("alertstate"), round(col("value"), 6).as("value"))
        .orderBy(col("event_type"), col("step_ts"))
    }),

    // The 3.x experimental *_over_time family: mad_over_time (interpolating
    // median absolute deviation — both engines use the quantile_cont(0.5)
    // rule, so the doubles agree exactly) and ts_of_max/min/last_over_time
    // (the chosen sample's own epoch as the value; tie rule pinned in
    // PromQlParserSpec — max→latest, min→earliest — and made explicit in
    // the twin's row_number ordering).
    "q134_promql_mad_tsof" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""mad_over_time({event_type=~".+"}[24h])""", "mad")
        .unionByName(run("""ts_of_max_over_time({event_type=~".+"}[24h])""", "tmax"))
        .unionByName(run("""ts_of_min_over_time({event_type=~".+"}[24h])""", "tmin"))
        .unionByName(run("""ts_of_last_over_time({event_type=~".+"}[24h])""", "tlast"))
        .select(col("which"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("user_id"), col("event_type"))
    }),

    // The trig battery through the parser: sin over radians-converted
    // values (|x| ≤ ~9 — no deep argument reduction, so both libms agree
    // to well past 6 dp), the bounded well-conditioned atan, the
    // deg∘rad identity chain (identical multiply chain in both engines),
    // and day_of_year over timestamp() — rounding at 6 dp absorbs any
    // last-ulp libm disagreement.
    "q132_promql_trig" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""sin(rad({event_type="click"}))""", "sin")
        .unionByName(run("""atan({event_type="click"})""", "atan"))
        .unionByName(run("""deg(rad({event_type="click"}))""", "deg_rad"))
        .unionByName(run("""day_of_year(timestamp({event_type="click"}))""", "doy"))
        .select(col("which"), col("user_id"), round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("user_id"))
    }),

    // histogram_quantile(q) for q in {0.5, 0.9, 0.99} from fixed le-buckets
    // (10, 25, 50, 100, 250, +Inf) per metric: cumulative counts, linear
    // interpolation inside the target bucket, +Inf clamps to the highest
    // finite bound. Counts are integers and the interpolation is one
    // fixed-shape expression -> cross-engine exact.
    "q91_histogram_quantile" -> ((s, d) => {
      PromQl.histogramQuantile(events(s, d), Seq("event_type"), "value",
        bounds = Seq(10, 25, 50, 100, 250), quantiles = Seq(0.5, 0.9, 0.99))
        .select(col("event_type"), col("q"),
          round(col("quantile_value"), 6).as("quantile_value"))
        .orderBy(col("event_type"), col("q"))
    }),

    // Negative offset (Prometheus ≥2.26, the Grafana timeshift-comparison
    // form): `offset -12h` shifts the evaluation instant FORWARD; with @
    // it composes pin-first-then-shift (the Prometheus rule). Branch
    // cross-check: `offset -12h` from midnight and `@ 10:00 offset -2h`
    // land on the SAME instant (12:00) through different code paths, and
    // a range window shifted forward reads (00:00, 06:00].
    "q144_promql_neg_offset" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 00:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""sum by (event_type) ({event_type=~".+"} offset -12h)""", "neg")
        .unionByName(
          run("""sum by (event_type) ({event_type=~".+"} @ 1705312800 offset -2h)""", "at_neg"))
        .unionByName(
          run("""sum by (event_type) (count_over_time({event_type=~".+"}[6h] offset -6h))""", "range_neg"))
        .select(col("which"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy(col("which"), col("event_type"))
    }),

    // Duration expressions (Prometheus 3.4 experimental,
    // --enable-feature=promql-duration-expr): arithmetic in the range,
    // subquery-step, and (parenthesized) offset positions, folded at
    // parse time. The battery pins three distinct folds: [3h * 2] = a 6h
    // count window, offset (3h - 1h) = the 10:00 instant, and the
    // bare-number/power form [2^2 * 900] = a 1h window — each lands on a
    // window no single-literal branch shares, so a fold bug flips rows.
    "q150_promql_duration_expr" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""sum by (event_type) (count_over_time({event_type=~".+"}[3h * 2]))""", "mul")
        .unionByName(
          run("""sum by (event_type) ({event_type=~".+"} offset (3h - 1h))""", "off"))
        .unionByName(
          run("""sum by (event_type) (count_over_time({event_type=~".+"}[2^2 * 900]))""", "pow"))
        .select(col("which"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy(col("which"), col("event_type"))
    }),

    // __name__ matchers (the Grafana multi-metric idiom) hit the metric
    // column: a regex union, and negative equality+regex composed. The
    // quoted-name form {"click"} rides the same path (3.x UTF-8 names).
    "q148_promql_name_matcher" -> ((s, d) => {
      val src = eventsSrc(s, d)
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""sum by (event_type) ({__name__=~"click|error"})""", "re")
        .unionByName(
          run("""sum by (event_type) ({__name__!="click", __name__!~"e.*"})""", "neg"))
        .unionByName(run("""sum by (event_type) ({"click"})""", "quoted"))
        .select(col("which"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy(col("which"), col("event_type"))
    }),

    // info() (Prometheus 3.x experimental): click samples enriched with
    // the data labels of each user's newest in-lookback `user_info` row
    // (signup events carry tier/zone derived from their JSON props — so
    // newest-per-key genuinely decides). Branch "all" copies every data
    // label; "sel" filters info rows by tier and selects the info metric
    // by __name__. Unmatched samples keep null data labels (LEFT join),
    // the upstream pass-through rule. One window + one AQE-broadcast
    // join — the info side is one row per user after the window.
    "q145_promql_info" -> ((s, d) => {
      val ev = events(s, d)
      val k = get_json_object(col("props"), "$.k").cast("long")
      val infoDf = ev.filter(col("event_type") === "signup")
        .select(lit("user_info").as("info_name"), col("user_id"),
          element_at(array(lit("gold"), lit("silver"), lit("bronze")),
            (k % 3 + 1).cast("int")).as("tier"),
          concat(lit("z"), (k % 5).cast("string")).as("zone"),
          col("ts"), col("event_id"))
      val src = PromQlParser.PromSource(ev, "event_type",
        Seq("user_id", "event_type"), "ts", "event_id", "value",
        info = Some(PromQlParser.InfoBinding(infoDf, "info_name",
          Seq("user_id"), Seq("tier", "zone"), "ts", "event_id")))
      def run(q: String, tag: String) =
        PromQlParser.eval(src, q, "2024-01-15 12:00:00", lookback = "24 HOURS")
          .withColumn("which", lit(tag))
      run("""info({event_type="click"})""", "all")
        .unionByName(run(
          """info({event_type="click"}, {__name__="user_info", tier=~"gold|silver", zone=~".+"})""",
          "sel"))
        .select(col("which"), col("user_id"), col("event_type"),
          col("tier"), col("zone"), round(col("value"), 6).as("value"))
        .orderBy(col("which"), col("user_id"))
    }),

    // UPSTREAM rate()/increase()/delta() boundary EXTRAPOLATION
    // (promql/functions.go `extrapolatedRate`) — the exact semantics the
    // engine's baseline rate() deliberately simplifies, now available as
    // its fidelity face (PromQl.extrapolated) and hash-proved here. The
    // counter fixture is a per-(series, day) cumulative sum (daily reset
    // at midnight), and the 6 h window (2024-01-14 22:00 → 01-15 04:00]
    // SPANS that midnight, so the reset correction, the start-side
    // zero-crossing clamp (first_v small right after reset), and both
    // edge-extrapolation branches are all load-bearing. Three faces from
    // the same window: xrate, xincrease (counter), xdelta (gauge).
    "q220_rate_extrapolated" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val startUs = 1705269600L * 1000000L // 2024-01-14 22:00:00 UTC
      val endUs = 1705291200L * 1000000L   // 2024-01-15 04:00:00 UTC
      val wCum = Window
        .partitionBy(col("event_type"), col("bucket"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val counter = events(s, d)
        .withColumn("bucket", pmod(col("user_id"), lit(4L)))
        .withColumn("cnt_v",
          sum(round(col("value"), 6).cast("decimal(18,6)")).over(wCum)
            .cast("double"))
      val win = counter
        .filter(col("ts") > lit("2024-01-14 22:00:00").cast("timestamp") &&
          col("ts") <= lit("2024-01-15 04:00:00").cast("timestamp"))
        .select(col("event_type"), col("bucket"), col("ts"), col("event_id"),
          col("cnt_v"))
      val key = Seq("event_type", "bucket")
      def face(isCounter: Boolean, isRate: Boolean, name: String) =
        PromQl.extrapolated(win, key, "ts", "event_id", "cnt_v",
            startUs, endUs, isCounter, isRate)
          .select(col("event_type"), col("bucket"), col("n"),
            round(col("value"), 9).as(name))
      face(isCounter = true, isRate = true, "xrate")
        .join(face(isCounter = true, isRate = false, "xincrease")
          .drop("n"), key)
        .join(face(isCounter = false, isRate = false, "xdelta")
          .drop("n"), key)
        .orderBy(col("event_type"), col("bucket"))
    }),

    // EXTENDED range selectors (Prometheus 3.5 experimental `anchored` /
    // `smoothed`, --enable-feature=promql-extended-range-selectors) — the
    // THIRD boundary semantics beside the engine's no-extrapolation
    // baseline (q95) and upstream extrapolatedRate (q220), from the same
    // daily-reset counter fixture and the same midnight-spanning 6 h
    // window: anchored holds the last sample at/before each boundary
    // (the left anchor genuinely sits BEFORE the window — hourly samples
    // vs a 22:00 boundary), smoothed interpolates the straddling pair on
    // the reset-adjusted scale. Four faces: anchored rate/increase,
    // smoothed rate, and smoothed gauge delta (raw-value interpolation).
    // The fetch is the pushdown-eligible (start−12h, end+12h] slice.
    "q237_extended_range" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val startUs = 1705269600L * 1000000L // 2024-01-14 22:00:00 UTC
      val endUs = 1705291200L * 1000000L   // 2024-01-15 04:00:00 UTC
      val wCum = Window
        .partitionBy(col("event_type"), col("bucket"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val counter = events(s, d)
        .withColumn("bucket", pmod(col("user_id"), lit(4L)))
        .withColumn("cnt_v",
          sum(round(col("value"), 6).cast("decimal(18,6)")).over(wCum)
            .cast("double"))
      val fetch = counter
        .filter(col("ts") > lit("2024-01-14 10:00:00").cast("timestamp") &&
          col("ts") <= lit("2024-01-15 16:00:00").cast("timestamp"))
        .select(col("event_type"), col("bucket"), col("ts"), col("event_id"),
          col("cnt_v"))
      val key = Seq("event_type", "bucket")
      def face(mode: String, isCounter: Boolean, isRate: Boolean,
               name: String) =
        PromQl.extendedRange(fetch, key, "ts", "event_id", "cnt_v",
            startUs, endUs, mode, isCounter, isRate)
          .select(col("event_type"), col("bucket"), col("n"),
            round(col("value"), 9).as(name))
      face("anchored", isCounter = true, isRate = true, "arate")
        .join(face("anchored", isCounter = true, isRate = false,
          "aincrease").drop("n"), key)
        .join(face("smoothed", isCounter = true, isRate = true,
          "srate").drop("n"), key)
        .join(face("smoothed", isCounter = false, isRate = false,
          "sdelta").drop("n"), key)
        .orderBy(col("event_type"), col("bucket"))
    }),

    // EXTENDED range selectors on the GRID (q237's PromQL-surface twin):
    // the real parser text through evalRange — per-step TWO-SIDED
    // anchors (anchored holds the left anchor; smoothed interpolates
    // BOTH boundaries on the reset-adjusted decimal scale, the right
    // straddle reading the first sample past each step instant when
    // storage holds one), 12h anchor lookback/lookahead on a 25-step
    // hourly grid over the midnight-spanning counter fixture. The
    // oracle re-derives every step's three anchors with windowed
    // joins — exact, because the boundary math is decimal differences
    // in both engines.
    "q243_extended_grid" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wCum = Window
        .partitionBy(col("event_type"), col("bucket"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val counter = events(s, d)
        .withColumn("bucket", pmod(col("user_id"), lit(4L)))
        .withColumn("cnt_v",
          sum(round(col("value"), 6).cast("decimal(18,6)")).over(wCum)
            .cast("double"))
        .select(col("event_type"), col("bucket"), col("ts"), col("event_id"),
          col("cnt_v"))
      val src0 = PromQlParser.PromSource(counter, "event_type",
        Seq("event_type", "bucket"), "ts", "event_id", "cnt_v")
      def face(q: String, name: String) =
        PromQlParser.evalRange(src0, q, "2024-01-14 12:00:00",
            "2024-01-15 12:00:00", 3600L, lookbackSec = 43200L)
          .select(col("event_type"), col("bucket"), col("step_ts"),
            round(col("value"), 9).as(name))
      face("""increase({event_type=~".+"}[2h] anchored)""", "ainc")
        .join(face("""rate({event_type=~".+"}[2h] smoothed)""", "srate"),
          Seq("event_type", "bucket", "step_ts"))
        .orderBy(col("event_type"), col("bucket"), col("step_ts"))
    }),

    // RULE-GROUP dependency ordering + 3.0 concurrent evaluation
    // (rules/group.go dependencyMap, --rules.max-concurrent-evals): a
    // five-rule group whose chain is two independent base rules → a
    // division reading BOTH → a scaling of that → plus an unrelated
    // rule. The engine's dependency analysis assigns batches [0,0,1,2,0]
    // (the oracle asserts those exact indices), every batch shares one
    // input source, and `seq_equal` proves batched ≡ strictly-sequential
    // sample for sample — the soundness claim of concurrent rule eval.
    // Chained records are REAL reads (click:avg consumes the recorded
    // frames of both batch-0 rules through on(user_id) matching).
    "q239_rule_group_concurrency" -> ((s, d) => {
      import s.implicits._
      import graft.metrics.RuleGroup
      val src0 = eventsSrc(s, d)
      val rules = Seq(
        RuleGroup.Rule("click:cnt1h",
          """sum by (event_type, user_id) (count_over_time({event_type="click"}[1h]))"""),
        RuleGroup.Rule("click:val1h",
          """sum by (event_type, user_id) (sum_over_time({event_type="click"}[1h]))"""),
        RuleGroup.Rule("click:avg",
          """{event_type="click:val1h"} / on(user_id) {event_type="click:cnt1h"}"""),
        RuleGroup.Rule("click:avg2x", """{event_type="click:avg"} * 2"""),
        RuleGroup.Rule("purchase:max1h",
          """max_over_time({event_type="purchase"}[1h])"""))
      val (start, end) = ("2024-01-15 01:00:00", "2024-01-15 12:00:00")
      val (batched, bs) = RuleGroup.evalBatched(src0, rules, start, end, 3600L)
      val sequential = RuleGroup.evalSequential(src0, rules, start, end, 3600L)
      val names = rules.map(_.record)
      def aggOf(df: DataFrame) = df
        .filter(col("event_type").isin(names: _*))
        .groupBy(col("event_type").as("record"))
        .agg(count(lit(1)).as("n_samples"),
          round(sum(round(col("value"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_v"))
      val meta = names.zip(bs).toDF("record", "batch")
      aggOf(batched.df)
        .join(aggOf(sequential.df)
          .withColumnRenamed("n_samples", "n_seq")
          .withColumnRenamed("sum_v", "sum_seq"), Seq("record"))
        .join(broadcast(meta), Seq("record"))
        .withColumn("seq_equal",
          col("n_samples") === col("n_seq") && col("sum_v") === col("sum_seq"))
        .select(col("record"), col("batch"), col("n_samples"), col("sum_v"),
          col("seq_equal"))
        .orderBy(col("record"))
    }),

    // [N] MULTI-CYCLE rule-group evaluation (rules/group.go run loop): a
    // FORWARD reference — a rule reading a LATER-declared rule's record
    // — reads the PREVIOUS cycle's sample, semantics a single whole-grid
    // pass cannot see (it has no previous cycle). Two faces: the
    // upstream-exact iterative replay (8 hourly cycles, each a
    // sequential one-instant eval against storage-so-far) and the
    // declarative single-plan twin (forward reads = the target's frame
    // shifted one cycle later; plan size independent of cycle count —
    // the 100 TB face). `plan_equal` proves them identical; lookback
    // 5400 s admits exactly the k−1 cycle under either staleness
    // boundary convention, so the oracle is a pure shift-by-one and the
    // forward read is genuinely load-bearing (cycles 2..8 carry real
    // values; cycle 1 is empty, as upstream).
    "q253_rulegroup_cycles" -> ((s, d) => {
      import graft.metrics.RuleGroup
      val src0 = eventsSrc(s, d)
      val rules = Seq(
        RuleGroup.Rule("purchase:lag", """{event_type="purchase:tot"}"""),
        RuleGroup.Rule("purchase:tot",
          """sum by (event_type, user_id) (sum_over_time({event_type="purchase"}[1h]))"""))
      val cycles = (1 to 8).map(k => f"2024-01-15 $k%02d:00:00")
      val iter = RuleGroup.evalCyclesIterative(src0, rules, cycles, 5400L)
      val plan = RuleGroup.evalCyclesPlan(src0, rules,
        cycles.head, cycles.last, 3600L, 5400L)
      val names = rules.map(_.record)
      def aggOf(df: DataFrame) = df
        .filter(col("event_type").isin(names: _*))
        .groupBy(col("event_type").as("record"))
        .agg(count(lit(1)).as("n_samples"),
          round(sum(round(col("value"), 6).cast("decimal(18,6)"))
            .cast("double"), 4).as("sum_v"))
      aggOf(plan.df)
        .join(aggOf(iter.df)
          .withColumnRenamed("n_samples", "n_it")
          .withColumnRenamed("sum_v", "sum_it"), Seq("record"))
        .withColumn("plan_equal",
          col("n_samples") === col("n_it") && col("sum_v") === col("sum_it"))
        .select(col("record"), col("n_samples"), col("sum_v"),
          col("plan_equal"))
        .orderBy(col("record"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Same cumsum fixture, same window-filtered lag increases, and the
    // SAME ordered double chain for the extrapolation factor — every
    // step is the identical IEEE op in both engines.
    "q220_rate_extrapolated" ->
      """WITH c0 AS (
        |  SELECT event_type, user_id % 4 AS bucket, ts, event_id,
        |    epoch_us(ts) AS t_us,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER
        |      (PARTITION BY event_type, user_id % 4, CAST(ts AS DATE)
        |       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |      AS cnt_v
        |  FROM events
        |), win AS (
        |  SELECT * FROM c0
        |  WHERE ts > TIMESTAMP '2024-01-14 22:00:00'
        |    AND ts <= TIMESTAMP '2024-01-15 04:00:00'
        |), i AS (
        |  SELECT *, lag(cnt_v) OVER (PARTITION BY event_type, bucket
        |    ORDER BY ts, event_id) AS prev
        |  FROM win
        |), agg AS (
        |  SELECT event_type, bucket, count(*) AS n,
        |    min(t_us) AS first_us, max(t_us) AS last_us,
        |    (min(struct_pack(ts := ts, e := event_id, v := cnt_v))).v
        |      AS first_v,
        |    (max(struct_pack(ts := ts, e := event_id, v := cnt_v))).v
        |      AS last_v,
        |    CAST(sum(CAST(round(CASE WHEN prev IS NULL THEN 0.0
        |      WHEN cnt_v - prev < 0 THEN cnt_v ELSE cnt_v - prev END, 6)
        |      AS DECIMAL(18,6))) AS DOUBLE) AS res
        |  FROM i GROUP BY 1, 2
        |), m AS (
        |  SELECT *,
        |    CAST(last_us - first_us AS DOUBLE) / 1000000.0 AS sampled,
        |    CAST(last_us - first_us AS DOUBLE) / 1000000.0
        |      / CAST(n - 1 AS DOUBLE) AS avgd,
        |    CAST(first_us - 1705269600000000 AS DOUBLE) / 1000000.0 AS ds0,
        |    CAST(1705291200000000 - last_us AS DOUBLE) / 1000000.0 AS de0
        |  FROM agg WHERE n >= 2
        |), f AS (
        |  SELECT *,
        |    CASE WHEN ds0 >= avgd * 1.1 THEN avgd / 2 ELSE ds0 END AS ds1,
        |    CASE WHEN de0 >= avgd * 1.1 THEN avgd / 2 ELSE de0 END AS de,
        |    sampled * (first_v / res) AS dz
        |  FROM m
        |), g AS (
        |  SELECT *,
        |    CASE WHEN res > 0 AND first_v >= 0 AND dz < ds1
        |      THEN dz ELSE ds1 END AS dsc
        |  FROM f
        |)
        |SELECT event_type, bucket, n,
        |  round(res * (((sampled + dsc + de) / sampled) / 21600.0), 9)
        |    AS xrate,
        |  round(res * ((sampled + dsc + de) / sampled), 9) AS xincrease,
        |  round((last_v - first_v) * ((sampled + ds1 + de) / sampled), 9)
        |    AS xdelta
        |FROM g ORDER BY event_type, bucket""".stripMargin,

    // Same cumsum fixture; the inc chain runs over the ±12h FETCH, adj is
    // the decimal prefix sum of 6-dp increments (exact), boundary regions
    // split at the window edges, and the boundary math is the SAME
    // ordered double expression the engine compiles — anchor = struct
    // max/min FILTERed per region (lexicographic (t, event_id) ==
    // the engine's max_by ordering since event_id is unique).
    "q237_extended_range" ->
      """WITH c0 AS (
        |  SELECT event_type, user_id % 4 AS bucket, ts, event_id,
        |    epoch_us(ts) AS t_us,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER
        |      (PARTITION BY event_type, user_id % 4, CAST(ts AS DATE)
        |       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |      AS cnt_v
        |  FROM events
        |), fch AS (
        |  SELECT * FROM c0
        |  WHERE ts > TIMESTAMP '2024-01-14 10:00:00'
        |    AND ts <= TIMESTAMP '2024-01-15 16:00:00'
        |), i AS (
        |  SELECT *, lag(cnt_v) OVER (PARTITION BY event_type, bucket
        |    ORDER BY ts, event_id) AS prev
        |  FROM fch
        |), a AS (
        |  SELECT *,
        |    sum(CAST(round(CASE WHEN prev IS NULL THEN 0.0
        |      WHEN cnt_v - prev < 0 THEN cnt_v ELSE cnt_v - prev END, 6)
        |      AS DECIMAL(18,6))) OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS adj,
        |    CAST(round(cnt_v, 6) AS DECIMAL(18,6)) AS rvd,
        |    CASE WHEN t_us <= 1705269600000000 THEN 'pre'
        |         WHEN t_us <= 1705291200000000 THEN 'in'
        |         ELSE 'post' END AS reg
        |  FROM i
        |), g AS (
        |  SELECT event_type, bucket, count(*) AS n_tot,
        |    sum(CASE WHEN reg = 'in' THEN 1 ELSE 0 END) AS n,
        |    max(struct_pack(t := t_us, e := event_id, v := adj, rv := rvd))
        |      FILTER (WHERE reg = 'pre') AS pre,
        |    min(struct_pack(t := t_us, e := event_id, v := adj, rv := rvd))
        |      FILTER (WHERE reg = 'in') AS fin,
        |    max(struct_pack(t := t_us, e := event_id, v := adj, rv := rvd))
        |      FILTER (WHERE reg = 'in') AS lin,
        |    min(struct_pack(t := t_us, e := event_id, v := adj, rv := rvd))
        |      FILTER (WHERE reg = 'post') AS post
        |  FROM a GROUP BY 1, 2
        |), v AS (
        |  SELECT *,
        |    CASE WHEN pre IS NULL THEN CAST(lin.v - fin.v AS DOUBLE)
        |         ELSE CAST(lin.v - pre.v AS DOUBLE) END AS a_val,
        |    (CASE WHEN pre IS NULL THEN CAST(lin.v - fin.v AS DOUBLE)
        |          ELSE CAST(lin.v - pre.v AS DOUBLE)
        |             - CAST(fin.v - pre.v AS DOUBLE) *
        |               (CAST(1705269600000000 - pre.t AS DOUBLE) /
        |                CAST(fin.t - pre.t AS DOUBLE)) END)
        |    + (CASE WHEN post IS NULL THEN 0.0
        |            ELSE CAST(post.v - lin.v AS DOUBLE) *
        |               (CAST(1705291200000000 - lin.t AS DOUBLE) /
        |                CAST(post.t - lin.t AS DOUBLE)) END) AS s_val,
        |    (CASE WHEN pre IS NULL THEN CAST(lin.rv - fin.rv AS DOUBLE)
        |          ELSE CAST(lin.rv - pre.rv AS DOUBLE)
        |             - CAST(fin.rv - pre.rv AS DOUBLE) *
        |               (CAST(1705269600000000 - pre.t AS DOUBLE) /
        |                CAST(fin.t - pre.t AS DOUBLE)) END)
        |    + (CASE WHEN post IS NULL THEN 0.0
        |            ELSE CAST(post.rv - lin.rv AS DOUBLE) *
        |               (CAST(1705291200000000 - lin.t AS DOUBLE) /
        |                CAST(post.t - lin.t AS DOUBLE)) END) AS sg_val
        |  FROM g WHERE n >= 1 AND (pre IS NOT NULL OR n >= 2)
        |)
        |SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
        |  round(a_val / 21600.0, 9) AS arate,
        |  round(a_val, 9) AS aincrease,
        |  round(s_val / 21600.0, 9) AS srate,
        |  round(sg_val, 9) AS sdelta
        |FROM v ORDER BY event_type, bucket""".stripMargin,

    // Per-step anchors re-derived with windowed joins: in-window =
    // te ∈ (T−w, T], pre-anchor = arg-max over te ∈ (S−L, S],
    // post-anchor = arg-min over te ∈ (T, T+L]; the same
    // decimal-difference boundary math (incl. the right straddle),
    // step by step.
    "q243_extended_grid" ->
      """WITH steps AS (
        |  SELECT i, make_timestamp((1705233600 + i * 3600) * 1000000)
        |      AS step_ts,
        |    (1705233600 + i * 3600) * 1000000 AS tus
        |  FROM (SELECT unnest(generate_series(0, 24)) AS i)
        |), c0 AS (
        |  SELECT event_type, user_id % 4 AS bucket, ts, event_id,
        |    epoch_us(ts) AS t_us,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER
        |      (PARTITION BY event_type, user_id % 4, CAST(ts AS DATE)
        |       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |      AS cnt_v
        |  FROM events
        |), i0 AS (
        |  SELECT *, lag(cnt_v) OVER (PARTITION BY event_type, bucket
        |    ORDER BY ts, event_id) AS prev
        |  FROM c0
        |), a AS (
        |  SELECT event_type, bucket, t_us, event_id,
        |    sum(CAST(round(CASE WHEN prev IS NULL THEN 0.0
        |      WHEN cnt_v - prev < 0 THEN cnt_v ELSE cnt_v - prev END, 6)
        |      AS DECIMAL(18,6))) OVER (PARTITION BY event_type, bucket
        |      ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS adj
        |  FROM i0
        |), inw AS (
        |  SELECT s.i, s.step_ts, s.tus, a.event_type, a.bucket,
        |    count(*) AS n,
        |    min(struct_pack(t := a.t_us, e := a.event_id, v := a.adj)) AS fin,
        |    max(struct_pack(t := a.t_us, e := a.event_id, v := a.adj)) AS lin
        |  FROM steps s JOIN a
        |    ON a.t_us > s.tus - 7200000000 AND a.t_us <= s.tus
        |  GROUP BY 1, 2, 3, 4, 5
        |), pr AS (
        |  SELECT s.i, a.event_type, a.bucket,
        |    max(struct_pack(t := a.t_us, e := a.event_id, v := a.adj)) AS pre
        |  FROM steps s JOIN a
        |    ON a.t_us <= s.tus - 7200000000
        |   AND a.t_us > s.tus - 7200000000 - 43200000000
        |  GROUP BY 1, 2, 3
        |), po AS (
        |  SELECT s.i, a.event_type, a.bucket,
        |    min(struct_pack(t := a.t_us, e := a.event_id, v := a.adj)) AS post
        |  FROM steps s JOIN a
        |    ON a.t_us > s.tus AND a.t_us <= s.tus + 43200000000
        |  GROUP BY 1, 2, 3
        |), j AS (
        |  SELECT inw.*, pr.pre, po.post
        |  FROM inw LEFT JOIN pr USING (i, event_type, bucket)
        |  LEFT JOIN po USING (i, event_type, bucket)
        |  WHERE inw.n >= 1 AND (pr.pre IS NOT NULL OR inw.n >= 2)
        |)
        |SELECT event_type, bucket, step_ts,
        |  round(CASE WHEN pre IS NULL THEN CAST(lin.v - fin.v AS DOUBLE)
        |        ELSE CAST(lin.v - pre.v AS DOUBLE) END, 9) AS ainc,
        |  round(((CASE WHEN pre IS NULL THEN CAST(lin.v - fin.v AS DOUBLE)
        |          ELSE CAST(lin.v - pre.v AS DOUBLE)
        |             - CAST(fin.v - pre.v AS DOUBLE) *
        |               (CAST(tus - 7200000000 - pre.t AS DOUBLE) /
        |                CAST(fin.t - pre.t AS DOUBLE)) END)
        |    + (CASE WHEN post IS NULL THEN 0.0
        |            ELSE CAST(post.v - lin.v AS DOUBLE) *
        |              (CAST(tus - lin.t AS DOUBLE) /
        |               CAST(post.t - lin.t AS DOUBLE)) END)) / 7200.0, 9)
        |    AS srate
        |FROM j ORDER BY event_type, bucket, step_ts""".stripMargin,

    // The chained rule math recomputed flat: per (user, step) click
    // count/valsum in the trailing hour, avg = the same double quotient
    // of the same recorded operands, avg2x = *2, purchase max per
    // series; batch indices are the EXPECTED dependency analysis
    // ([0,0,1,2,0]) and seq_equal must come out TRUE in the engine.
    "q239_rule_group_concurrency" ->
      """WITH steps AS (
        |  SELECT make_timestamp((1705280400 + i * 3600) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 11)) AS i)
        |), cv AS (
        |  SELECT s.step_ts, e.user_id, count(*) AS cnt,
        |    CAST(sum(CAST(round(e.value, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS val
        |  FROM steps s JOIN events e
        |    ON e.event_type = 'click' AND e.ts <= s.step_ts
        |   AND e.ts > s.step_ts - INTERVAL 1 HOUR
        |  GROUP BY 1, 2
        |), pm AS (
        |  SELECT s.step_ts, e.user_id, max(e.value) AS mx
        |  FROM steps s JOIN events e
        |    ON e.event_type = 'purchase' AND e.ts <= s.step_ts
        |   AND e.ts > s.step_ts - INTERVAL 1 HOUR
        |  GROUP BY 1, 2
        |), rws AS (
        |  SELECT 'click:cnt1h' AS record, CAST(cnt AS DOUBLE) AS v FROM cv
        |  UNION ALL SELECT 'click:val1h', val FROM cv
        |  UNION ALL SELECT 'click:avg', val / CAST(cnt AS DOUBLE) FROM cv
        |  UNION ALL SELECT 'click:avg2x',
        |    (val / CAST(cnt AS DOUBLE)) * 2 FROM cv
        |  UNION ALL SELECT 'purchase:max1h', mx FROM pm
        |), ag AS (
        |  SELECT record, count(*) AS n_samples,
        |    round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |      AS sum_v
        |  FROM rws GROUP BY 1
        |), meta AS (
        |  SELECT * FROM (VALUES ('click:cnt1h', 0), ('click:val1h', 0),
        |    ('click:avg', 1), ('click:avg2x', 2), ('purchase:max1h', 0))
        |    AS t(record, batch)
        |)
        |SELECT a.record, m.batch, CAST(a.n_samples AS BIGINT) AS n_samples,
        |  a.sum_v, TRUE AS seq_equal
        |FROM ag a JOIN meta m USING (record) ORDER BY a.record""".stripMargin,

    // The forward reference is a pure shift-by-one over cycles (lookback
    // 5400 s admits exactly the previous hourly cycle), so the oracle
    // recomputes tot per cycle and reads lag as tot at k−1.
    "q253_rulegroup_cycles" ->
      """WITH cycles AS (
        |  SELECT unnest(generate_series(1, 8)) AS k
        |), tot AS (
        |  SELECT c.k, e.user_id,
        |    CAST(sum(CAST(round(e.value, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS v
        |  FROM cycles c JOIN events e
        |    ON e.event_type = 'purchase'
        |   AND e.ts <= make_timestamp((1705276800 + c.k * 3600) * 1000000)
        |   AND e.ts > make_timestamp((1705276800 + (c.k - 1) * 3600)
        |     * 1000000)
        |  GROUP BY 1, 2
        |), rws AS (
        |  SELECT 'purchase:tot' AS record, v FROM tot
        |  UNION ALL
        |  SELECT 'purchase:lag', v FROM tot WHERE k < 8
        |)
        |SELECT record, count(*) AS n_samples,
        |  round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_v,
        |  TRUE AS plan_equal
        |FROM rws GROUP BY 1 ORDER BY record""".stripMargin,

    "q89_counter_increase" ->
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

    "q90_instant_query" ->
      """WITH lastv AS (
        |  SELECT event_type, user_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT event_type, count(*) AS n_series,
        |  round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_value,
        |  round(max(value), 6) AS max_value
        |FROM lastv WHERE rn = 1 GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q100_promql_parse_topk" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), d AS (
        |  SELECT user_id, event_type, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev
        |  FROM w
        |), r AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(CAST(round(CASE WHEN prev IS NULL THEN 0.0
        |      WHEN value - prev < 0 THEN value ELSE value - prev END, 6)
        |      AS DECIMAL(18,6))) AS DOUBLE) / 86400 AS value
        |  FROM d GROUP BY 1, 2
        |), ranked AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (ORDER BY value DESC, user_id, event_type) AS rank
        |  FROM r
        |)
        |SELECT rank, user_id, event_type, round(value, 9) AS value
        |FROM ranked WHERE rank <= 3 ORDER BY rank""".stripMargin,

    "q101_promql_parse_agg" ->
      """WITH w AS (
        |  SELECT user_id, event_type, value FROM events
        |  WHERE NOT regexp_matches(CAST(event_type AS VARCHAR), '^(?:err.*)$')
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 12 HOURS
        |), m AS (
        |  SELECT user_id, event_type, max(value) AS v FROM w GROUP BY 1, 2
        |)
        |SELECT event_type,
        |  round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS value
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q102_promql_delta" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE event_type = 'signup'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), ranked AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM w
        |), d AS (
        |  SELECT user_id, event_type,
        |    max(CASE WHEN rd = 1 THEN value END)
        |      - max(CASE WHEN ra = 1 THEN value END) AS value
        |  FROM ranked GROUP BY 1, 2
        |)
        |SELECT event_type,
        |  round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS value
        |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q103_promql_irate" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE regexp_matches(CAST(event_type AS VARCHAR), '^(?:click|view)$')
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), ranked AS (
        |  SELECT user_id, event_type, value, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM w
        |), two AS (
        |  SELECT user_id, event_type,
        |    max(CASE WHEN rd = 1 THEN value END) AS v1,
        |    max(CASE WHEN rd = 2 THEN value END) AS v2,
        |    max(CASE WHEN rd = 1 THEN us END) AS t1,
        |    max(CASE WHEN rd = 2 THEN us END) AS t2
        |  FROM ranked WHERE rd <= 2 GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type,
        |    (CASE WHEN v1 < v2 THEN v1 ELSE v1 - v2 END)
        |      / ((t1 - t2) / 1000000.0) AS value
        |  FROM two WHERE v2 IS NOT NULL
        |)
        |SELECT event_type, round(max(value), 6) AS value
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    // Mirrors the engine: decimal window sums aggregate exactly and the
    // day-level sum divides ONCE — both engines round the same double.
    "q95_rate" ->
      """WITH d AS (
        |  SELECT user_id, event_type, ts, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev
        |  FROM events
        |), i AS (
        |  SELECT user_id, event_type, ts,
        |    epoch_us(ts) // 1000000 AS sec,
        |    CASE WHEN prev IS NULL THEN 0.0
        |         WHEN value - prev < 0 THEN value
        |         ELSE value - prev END AS inc
        |  FROM d
        |), r AS (
        |  SELECT event_type, ts,
        |    sum(CAST(round(inc, 6) AS DECIMAL(18,6)))
        |      OVER (PARTITION BY user_id, event_type ORDER BY sec
        |            RANGE BETWEEN 21599 PRECEDING AND CURRENT ROW) AS winsum
        |  FROM i
        |)
        |SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n_samples,
        |  round(CAST(sum(winsum) AS DOUBLE) / 21600, 4) AS sum_rate,
        |  round(max(CAST(winsum AS DOUBLE) / 21600), 6) AS max_rate
        |FROM r GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    "q96_promql_topk" ->
      """WITH lastv AS (
        |  SELECT event_type, user_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT event_type, user_id, value FROM lastv WHERE rn = 1
        |), ranked AS (
        |  SELECT event_type, user_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, user_id) AS rank
        |  FROM iv
        |)
        |SELECT event_type, rank, user_id, round(value, 6) AS value
        |FROM ranked WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    "q97_over_time" ->
      """WITH w AS (
        |  SELECT event_type,
        |    count(*) OVER win AS count_ot,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER win
        |      AS DECIMAL(18,6)) AS sum_ot,
        |    max(value) OVER win AS max_ot,
        |    min(value) OVER win AS min_ot
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id, event_type
        |                 ORDER BY epoch_us(ts) // 1000000
        |                 RANGE BETWEEN 43199 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, count(*) AS n_samples,
        |  round(CAST(sum(sum_ot) AS DOUBLE), 4) AS total_ot,
        |  round(max(max_ot), 6) AS max_max_ot,
        |  round(min(min_ot), 6) AS min_min_ot,
        |  CAST(sum(count_ot) AS BIGINT) AS sum_count_ot
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q104_promql_binop_ratio" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE event_type IN ('click', 'view')
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), d AS (
        |  SELECT user_id, event_type, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev
        |  FROM w
        |), r AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(CAST(round(CASE WHEN prev IS NULL THEN 0.0
        |      WHEN value - prev < 0 THEN value ELSE value - prev END, 6)
        |      AS DECIMAL(18,6))) AS DOUBLE) / 86400 AS rate
        |  FROM d GROUP BY 1, 2
        |), agg AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(CAST(round(rate, 6) AS DECIMAL(18,6))) AS DOUBLE) AS v
        |  FROM r GROUP BY 1, 2
        |)
        |-- DuckDB's x/0 is NaN, not IEEE ±Inf; spell out the Prometheus
        |-- zero-divisor branches to match the engine.
        |SELECT c.user_id,
        |  CASE WHEN vw.v = 0 THEN
        |    CASE WHEN c.v > 0 THEN CAST('infinity' AS DOUBLE)
        |         WHEN c.v < 0 THEN CAST('-infinity' AS DOUBLE)
        |         ELSE CAST('nan' AS DOUBLE) END
        |  ELSE round(c.v / vw.v, 6) END AS value
        |FROM (SELECT user_id, v FROM agg WHERE event_type = 'click') c
        |JOIN (SELECT user_id, v FROM agg WHERE event_type = 'view') vw USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q105_promql_binop_diff" ->
      """WITH w AS (
        |  SELECT user_id, event_type, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT user_id, event_type, round(max(value) - min(value), 6) AS value
        |FROM w GROUP BY 1, 2 ORDER BY user_id""".stripMargin,

    // Mirrors histogramQuantileVector exactly: cumulative le-bucket counts
    // (rows only for cum > 0, like the Spark-side vector), lag-based
    // bucket edges, DECIMAL rank and numerator, ONE double division.
    "q106_promql_histogram" ->
      """WITH w AS (
        |  SELECT event_type, value FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), bounds AS (
        |  SELECT * FROM (VALUES (0, 10.0), (1, 25.0), (2, 50.0), (3, 100.0),
        |                        (4, 250.0), (5, NULL)) AS t(idx, bound)
        |), cum0 AS (
        |  SELECT w.event_type, b.idx, b.bound,
        |    count(*) FILTER (WHERE b.bound IS NULL OR w.value <= b.bound) AS cum
        |  FROM w CROSS JOIN bounds b GROUP BY 1, 2, 3
        |), e AS (
        |  SELECT event_type, idx, bound,
        |    CAST(cum AS DECIMAL(18,6)) AS cum_d,
        |    lag(CAST(cum AS DECIMAL(18,6))) OVER win AS prev_cum,
        |    lag(bound) OVER win AS lo,
        |    max(CAST(cum AS DECIMAL(18,6))) OVER (PARTITION BY event_type) AS total
        |  FROM cum0 WHERE cum > 0
        |  WINDOW win AS (PARTITION BY event_type ORDER BY idx)
        |), p AS (
        |  SELECT event_type, idx, bound, cum_d, prev_cum, lo,
        |    CAST(CAST(0.9 AS DECIMAL(6,4)) * total AS DECIMAL(24,10)) AS rnk
        |  FROM e
        |), picked AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY idx) AS rn
        |  FROM p WHERE cum_d >= rnk
        |)
        |SELECT event_type, round(
        |  CASE WHEN bound IS NULL THEN lo
        |  ELSE coalesce(lo, 0.0) +
        |    CAST(CAST(rnk - coalesce(prev_cum, CAST(0 AS DECIMAL(18,6)))
        |           AS DECIMAL(18,10)) *
        |         CAST(bound - coalesce(lo, 0.0) AS DECIMAL(15,8)) AS DOUBLE)
        |    / CAST(cum_d - coalesce(prev_cum, CAST(0 AS DECIMAL(18,6))) AS DOUBLE)
        |  END, 6) AS quantile_value
        |FROM picked WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // Grid semantics: an adjacent (prev, cur) sample pair contributes its
    // reset-aware inc to every step T with cur_ts <= T < prev_ts + 6h —
    // both endpoints inside the trailing window. Unlike instant eval (which
    // gives 0 from counterIncrease's first-sample baseline), a step whose
    // window holds one sample gets no row.
    "q107_range_rate" ->
      """WITH steps AS (
        |  SELECT make_timestamp((1705190400 + i * 10800) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 8)) AS i)
        |), d AS (
        |  SELECT user_id, event_type, ts, value,
        |    lag(value) OVER win AS prev, lag(ts) OVER win AS prev_ts
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), pairs AS (
        |  SELECT user_id, event_type, ts, prev_ts,
        |    CASE WHEN value - prev < 0 THEN value ELSE value - prev END AS inc
        |  FROM d WHERE prev IS NOT NULL
        |), j AS (
        |  SELECT p.user_id, p.event_type, s.step_ts,
        |    CAST(sum(CAST(round(p.inc, 6) AS DECIMAL(18,6))) AS DOUBLE) / 21600
        |      AS value
        |  FROM steps s JOIN pairs p
        |    ON p.ts <= s.step_ts AND p.prev_ts > s.step_ts - INTERVAL 6 HOURS
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, event_type, step_ts, round(value, 9) AS value
        |FROM j ORDER BY user_id, event_type, step_ts""".stripMargin,

    // offset 1h shifts each sample to ts + 1h; a step T sees the latest
    // shifted sample in (T − 2h, T].
    "q108_range_instant" ->
      """WITH steps AS (
        |  SELECT make_timestamp((1705190400 + i * 10800) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 8)) AS i)
        |), w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE event_type IN ('click', 'view')
        |), iv AS (
        |  SELECT s.step_ts, w.user_id, w.event_type, w.value,
        |    row_number() OVER (PARTITION BY s.step_ts, w.user_id, w.event_type
        |                       ORDER BY w.ts DESC, w.event_id DESC) AS rn
        |  FROM steps s JOIN w
        |    ON w.ts + INTERVAL 1 HOUR <= s.step_ts
        |   AND w.ts + INTERVAL 1 HOUR > s.step_ts - INTERVAL 2 HOURS
        |)
        |SELECT event_type, step_ts,
        |  round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS value
        |FROM iv WHERE rn = 1 GROUP BY 1, 2 ORDER BY event_type, step_ts""".stripMargin,

    // Subquery grid points: T − 9h, −6h, −3h, T (epoch 1705287600 + i·3h);
    // rate per point = decimal-summed increases of pairs fully inside the
    // trailing 6h window (the q107 rule); outer max is order-insensitive.
    "q118_promql_subquery" ->
      """WITH steps AS (
        |  -- closed [T-12h, T] on the absolute 3h grid: 5 points
        |  SELECT make_timestamp((1705276800 + i * 10800) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 4)) AS i)
        |), d AS (
        |  SELECT user_id, event_type, ts, value,
        |    lag(value) OVER win AS prev, lag(ts) OVER win AS prev_ts
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), pairs AS (
        |  SELECT user_id, event_type, ts, prev_ts,
        |    CASE WHEN value - prev < 0 THEN value ELSE value - prev END AS inc
        |  FROM d WHERE prev IS NOT NULL
        |), r AS (
        |  SELECT p.user_id, p.event_type, s.step_ts,
        |    CAST(sum(CAST(round(p.inc, 6) AS DECIMAL(18,6))) AS DOUBLE) / 21600
        |      AS rate
        |  FROM steps s JOIN pairs p
        |    ON p.ts <= s.step_ts AND p.prev_ts > s.step_ts - INTERVAL 6 HOURS
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, event_type, round(max(rate), 6) AS value
        |FROM r GROUP BY 1, 2 ORDER BY user_id""".stripMargin,

    "q162_subquery_offset" ->
      """WITH steps AS (
        |  -- closed [06:00-12h, 06:00] on the absolute 3h grid: 5 points
        |  SELECT make_timestamp((1705255200 + i * 10800) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 4)) AS i)
        |), d AS (
        |  SELECT user_id, event_type, ts, value,
        |    lag(value) OVER win AS prev, lag(ts) OVER win AS prev_ts
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), pairs AS (
        |  SELECT user_id, event_type, ts, prev_ts,
        |    CASE WHEN value - prev < 0 THEN value ELSE value - prev END AS inc
        |  FROM d WHERE prev IS NOT NULL
        |), r AS (
        |  SELECT p.user_id, p.event_type, s.step_ts,
        |    CAST(sum(CAST(round(p.inc, 6) AS DECIMAL(18,6))) AS DOUBLE) / 21600
        |      AS rate
        |  FROM steps s JOIN pairs p
        |    ON p.ts <= s.step_ts AND p.prev_ts > s.step_ts - INTERVAL 6 HOURS
        |  GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT user_id, event_type, round(max(rate), 6) AS value
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT t.which, a.user_id, a.event_type, a.value
        |FROM agg a CROSS JOIN (VALUES ('off'), ('at')) t(which)
        |ORDER BY t.which, a.user_id""".stripMargin,

    // Fine grid: 2024-01-13 18:00 (epoch 1705168800) + j·3h for j in 0..10
    // (absolute 3h multiples covering the first outer step's closed 6h
    // window); rate per fine point = q107's pairs rule; outer 6h steps
    // (1705190400 + i·6h) fold the fine points inside their CLOSED
    // trailing 6h window.
    "q119_range_subquery" ->
      """WITH fine AS (
        |  SELECT make_timestamp((1705168800 + j * 10800) * 1000000) AS fts
        |  FROM (SELECT unnest(generate_series(0, 10)) AS j)
        |), d AS (
        |  SELECT user_id, event_type, ts, value,
        |    lag(value) OVER win AS prev, lag(ts) OVER win AS prev_ts
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), pairs AS (
        |  SELECT user_id, event_type, ts, prev_ts,
        |    CASE WHEN value - prev < 0 THEN value ELSE value - prev END AS inc
        |  FROM d WHERE prev IS NOT NULL
        |), r AS (
        |  SELECT p.user_id, p.event_type, f.fts,
        |    CAST(sum(CAST(round(p.inc, 6) AS DECIMAL(18,6))) AS DOUBLE) / 21600
        |      AS rate
        |  FROM fine f JOIN pairs p
        |    ON p.ts <= f.fts AND p.prev_ts > f.fts - INTERVAL 6 HOURS
        |  GROUP BY 1, 2, 3
        |), steps AS (
        |  SELECT make_timestamp((1705190400 + i * 21600) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 4)) AS i)
        |)
        |SELECT r.user_id, r.event_type, s.step_ts, round(max(r.rate), 6) AS value
        |FROM steps s JOIN r
        |  ON r.fts <= s.step_ts AND r.fts >= s.step_ts - INTERVAL 6 HOURS
        |GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, step_ts""".stripMargin,

    "q123_promql_count_values" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT event_type,
        |  CASE WHEN abs(value) < 1e15 THEN
        |    regexp_replace(regexp_replace(
        |      CAST(CAST(value AS DECIMAL(27,6)) AS VARCHAR),
        |      '(\.\d*?)0+$', '\1'), '\.$', '')
        |  ELSE CAST(value AS VARCHAR) END AS v,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM lastv WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY event_type, v""".stripMargin,

    "q133_promql_limitk" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1
        |), lim AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY user_id) AS lr
        |  FROM iv
        |)
        |SELECT * FROM (
        |  SELECT 'limited' AS which, user_id, event_type, round(value, 6) AS value
        |  FROM lim WHERE lr <= 2
        |  UNION ALL
        |  SELECT 'sorted', user_id, event_type, round(value, 6)
        |  FROM iv WHERE event_type = 'click'
        |) ORDER BY which, event_type, user_id""".stripMargin,

    // The twin recomputes the engine's hash rule verbatim: md5 over the
    // canonical sorted label tuple "event_type=E,user_id=U", first 8 hex
    // digits as a uint32 over 2^32; head keeps frac < 0.3, tail keeps
    // frac >= 0.3 (= 1 + (-0.7)) — an exact partition.
    "q140_promql_limit_ratio" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value,
        |    ('0x' || substr(md5('event_type=' || event_type
        |                        || ',user_id=' || CAST(user_id AS VARCHAR)), 1, 8)
        |    )::UBIGINT / 4294967296.0 AS frac
        |  FROM lastv WHERE rn = 1
        |)
        |SELECT * FROM (
        |  SELECT 'head' AS which, user_id, event_type, round(value, 6) AS value
        |  FROM iv WHERE frac < 0.3
        |  UNION ALL
        |  SELECT 'tail', user_id, event_type, round(value, 6)
        |  FROM iv WHERE frac >= 0.3
        |) ORDER BY which, event_type, user_id""".stripMargin,

    // The bridging state machine replayed as a BOUNDED recursive CTE
    // over active-step ranks: consecutive steps extend the run, a gap
    // ≤ keepSteps+1 from a firing step bridges (ORIGINAL run start
    // kept), anything else resets to pending; kept tails clip at
    // min(prev+1+K, maxIdx, next−1) and carry the run's last value.
    "q257_alert_keep_bridging" ->
      """WITH RECURSIVE steps AS (
        |  SELECT make_timestamp((1705190400 + i * 3600) * 1000000)
        |    AS step_ts, i
        |  FROM (SELECT unnest(generate_series(0, 71)) AS i)
        |), act AS (
        |  SELECT s.i, e.event_type, CAST(count(*) AS DOUBLE) AS value,
        |    row_number() OVER (PARTITION BY e.event_type ORDER BY s.i) AS r
        |  FROM steps s JOIN events e
        |    ON e.ts <= s.step_ts AND e.ts > s.step_ts - INTERVAL 1 HOUR
        |  WHERE hour(s.step_ts) % 5 < 3 AND hour(s.step_ts) < 22
        |  GROUP BY 1, 2
        |), walk AS (
        |  SELECT event_type, i, value, r, i AS active_at, FALSE AS firing
        |  FROM act WHERE r = 1
        |  UNION ALL
        |  SELECT a.event_type, a.i, a.value, a.r,
        |    CASE WHEN a.i = w.i + 1 THEN w.active_at
        |         WHEN w.firing AND a.i <= w.i + 3 THEN w.active_at
        |         ELSE a.i END,
        |    CASE WHEN a.i = w.i + 1
        |           THEN (w.firing OR a.i - w.active_at >= 2)
        |         WHEN w.firing AND a.i <= w.i + 3 THEN TRUE
        |         ELSE FALSE END
        |  FROM act a JOIN walk w
        |    ON a.event_type = w.event_type AND a.r = w.r + 1
        |), kept AS (
        |  SELECT event_type,
        |    unnest(generate_series(i + 1,
        |      least(i + 3, 71, coalesce(nxt - 1, 9999)))) AS j,
        |    value
        |  FROM (
        |    SELECT event_type, i, value, firing,
        |      lead(i) OVER (PARTITION BY event_type ORDER BY i) AS nxt
        |    FROM walk)
        |  WHERE firing
        |)
        |SELECT * FROM (
        |  SELECT 'KeepBridge' AS alertname, event_type,
        |    make_timestamp((1705190400 + i * 3600) * 1000000) AS step_ts,
        |    CASE WHEN firing THEN 'firing' ELSE 'pending' END AS alertstate,
        |    round(value, 6) AS value
        |  FROM walk
        |  UNION ALL
        |  SELECT 'KeepBridge', event_type,
        |    make_timestamp((1705190400 + j * 3600) * 1000000), 'firing',
        |    round(value, 6)
        |  FROM kept
        |) ORDER BY event_type, step_ts""".stripMargin,

    "q138_alert_keep_firing" ->
      """WITH steps AS (
        |  SELECT make_timestamp((1705276800 + i * 3600) * 1000000) AS step_ts, i
        |  FROM (SELECT unnest(generate_series(0, 47)) AS i)
        |), act AS (
        |  SELECT s.step_ts, s.i, e.event_type,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM steps s JOIN events e
        |    ON e.ts <= s.step_ts AND e.ts > s.step_ts - INTERVAL 2 HOURS
        |  WHERE hour(s.step_ts) >= 18
        |  GROUP BY 1, 2, 3
        |), isl AS (
        |  SELECT *, CASE WHEN lag(i) OVER w IS NULL OR lag(i) OVER w <> i - 1
        |    THEN i END AS open
        |  FROM act WINDOW w AS (PARTITION BY event_type ORDER BY i)
        |), carry AS (
        |  SELECT *, last_value(open IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active_at
        |  FROM isl
        |), st AS (
        |  SELECT event_type, step_ts, i,
        |    CASE WHEN (i - active_at) * 3600 >= 10800 THEN 'firing'
        |         ELSE 'pending' END AS alertstate,
        |    value
        |  FROM carry
        |), ends AS (
        |  SELECT event_type, i, value FROM (
        |    SELECT event_type, i, value, alertstate,
        |      lead(i) OVER (PARTITION BY event_type ORDER BY i) AS nxt
        |    FROM st)
        |  WHERE (nxt IS NULL OR nxt <> i + 1) AND alertstate = 'firing'
        |), kept AS (
        |  SELECT event_type,
        |    unnest(generate_series(i + 1, least(i + 1, 47))) AS j, value
        |  FROM ends
        |)
        |SELECT * FROM (
        |  SELECT 'KeepFire' AS alertname, event_type, step_ts, alertstate,
        |    round(value, 6) AS value
        |  FROM st
        |  UNION ALL
        |  SELECT 'KeepFire', event_type,
        |    make_timestamp((1705276800 + j * 3600) * 1000000), 'firing',
        |    round(value, 6)
        |  FROM kept
        |) ORDER BY event_type, step_ts""".stripMargin,

    "q137_promql_arith_ops" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1
        |)
        |SELECT * FROM (
        |  SELECT 'mod' AS which, user_id, event_type,
        |    round(value % 10, 6) AS value FROM iv
        |  UNION ALL
        |  SELECT 'pow', user_id, event_type,
        |    round(pow(abs(value), 0.5), 6) FROM iv
        |  UNION ALL
        |  SELECT 'atan2', user_id, event_type,
        |    round(atan2(value, 10), 6) FROM iv
        |) ORDER BY which, user_id, event_type""".stripMargin,

    "q136_recording_rule" ->
      """WITH steps AS (
        |  SELECT make_timestamp((1705276800 + i * 3600) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(1, 23)) AS i)
        |), hourly AS (
        |  SELECT s.step_ts, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM steps s JOIN events e
        |    ON e.event_type = 'click'
        |   AND e.ts <= s.step_ts AND e.ts > s.step_ts - INTERVAL 1 HOUR
        |  GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 'max' AS which, 'hourly:clicks' AS event_type,
        |    round(max(cnt), 6) AS value FROM hourly
        |  UNION ALL
        |  SELECT 'sum', 'hourly:clicks',
        |    round(CAST(sum(CAST(round(cnt, 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
        |  FROM hourly
        |) ORDER BY which""".stripMargin,

    "q135_alert_rules" ->
      """WITH steps AS (
        |  SELECT make_timestamp((1705276800 + i * 3600) * 1000000) AS step_ts, i
        |  FROM (SELECT unnest(generate_series(0, 47)) AS i)
        |), act AS (
        |  SELECT s.step_ts, s.i, e.event_type,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM steps s JOIN events e
        |    ON e.ts <= s.step_ts AND e.ts > s.step_ts - INTERVAL 2 HOURS
        |  WHERE hour(s.step_ts) >= 18
        |  GROUP BY 1, 2, 3
        |), isl AS (
        |  SELECT *, CASE WHEN lag(i) OVER w IS NULL OR lag(i) OVER w <> i - 1
        |    THEN i END AS open
        |  FROM act WINDOW w AS (PARTITION BY event_type ORDER BY i)
        |), carry AS (
        |  SELECT *, last_value(open IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active_at
        |  FROM isl
        |)
        |SELECT 'HighTraffic' AS alertname, event_type, step_ts,
        |  CASE WHEN (i - active_at) * 3600 >= 10800 THEN 'firing'
        |       ELSE 'pending' END AS alertstate,
        |  round(value, 6) AS value
        |FROM carry ORDER BY event_type, step_ts""".stripMargin,

    "q134_promql_mad_tsof" ->
      """WITH w AS (
        |  SELECT user_id, event_type, value, epoch_us(ts) AS us
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT * FROM (
        |  SELECT 'mad' AS which, user_id, event_type,
        |    round(mad(value), 6) AS value
        |  FROM w GROUP BY 2, 3
        |  UNION ALL
        |  SELECT 'tmax', user_id, event_type,
        |    round(CAST(us AS DOUBLE) / 1000000.0, 6)
        |  FROM (SELECT user_id, event_type, us, row_number() OVER (
        |          PARTITION BY user_id, event_type
        |          ORDER BY value DESC, us DESC) AS rn FROM w)
        |  WHERE rn = 1
        |  UNION ALL
        |  SELECT 'tmin', user_id, event_type,
        |    round(CAST(us AS DOUBLE) / 1000000.0, 6)
        |  FROM (SELECT user_id, event_type, us, row_number() OVER (
        |          PARTITION BY user_id, event_type
        |          ORDER BY value ASC, us ASC) AS rn FROM w)
        |  WHERE rn = 1
        |  UNION ALL
        |  SELECT 'tlast', user_id, event_type,
        |    round(CAST(max(us) AS DOUBLE) / 1000000.0, 6)
        |  FROM w GROUP BY 2, 3
        |) ORDER BY which, user_id, event_type""".stripMargin,

    "q132_promql_trig" ->
      """WITH w AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), lastv AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM w
        |), iv AS (SELECT user_id, value FROM lastv WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT 'sin' AS which, user_id, round(sin(radians(value)), 6) AS value
        |  FROM iv
        |  UNION ALL
        |  SELECT 'atan', user_id, round(atan(value), 6) FROM iv
        |  UNION ALL
        |  SELECT 'deg_rad', user_id, round(degrees(radians(value)), 6) FROM iv
        |  UNION ALL
        |  SELECT 'doy', user_id, CAST(dayofyear(mx) AS DOUBLE)
        |  FROM (SELECT user_id, max(ts) AS mx FROM w GROUP BY 1)
        |) ORDER BY which, user_id""".stripMargin,

    "q124_promql_sort_scalar_vector" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1
        |), sums AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS value
        |  FROM iv GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 'sorted' AS which, event_type, round(value, 6) AS value FROM sums
        |  UNION ALL
        |  SELECT 'fallback', '', 0.0
        |  WHERE NOT EXISTS (SELECT 1 FROM iv WHERE event_type = 'nosuch_metric')
        |  UNION ALL
        |  SELECT 'scaled', event_type,
        |    round(value / (SELECT CAST(count(*) AS DOUBLE) FROM iv), 6)
        |  FROM sums
        |) ORDER BY which, event_type""".stripMargin,

    "q125_promql_time_components" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM w
        |), big AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1 AND value > 100
        |)
        |SELECT * FROM (
        |  -- hour(T) = 12 statically: the day gate passes, the night gate is empty
        |  SELECT 'day' AS which, user_id, event_type, round(value, 6) AS value
        |  FROM big WHERE 12 >= 6
        |  UNION ALL
        |  SELECT 'night', user_id, event_type, round(value, 6) FROM big WHERE 12 < 6
        |  UNION ALL
        |  SELECT 'dow', user_id, event_type,
        |    CAST(dayofweek(max_ts) AS DOUBLE)  -- DuckDB Sunday=0 = engine rule
        |  FROM (SELECT user_id, event_type, max(ts) AS max_ts
        |        FROM w WHERE event_type = 'click' GROUP BY 1, 2)
        |) ORDER BY which, user_id, event_type""".stripMargin,

    "q148_promql_name_matcher" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-14 12:00:00'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                             ORDER BY ts DESC, event_id DESC) = 1
        |), agg AS (
        |  SELECT event_type,
        |    round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |      AS value
        |  FROM lastv GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 're' AS which, event_type, value FROM agg
        |  WHERE regexp_matches(event_type, '^(?:click|error)$')
        |  UNION ALL
        |  SELECT 'neg', event_type, value FROM agg
        |  WHERE event_type <> 'click' AND NOT regexp_matches(event_type, '^(?:e.*)$')
        |  UNION ALL
        |  SELECT 'quoted', event_type, value FROM agg WHERE event_type = 'click'
        |) ORDER BY which, event_type""".stripMargin,

    "q145_promql_info" ->
      """WITH clickv AS (
        |  SELECT user_id, event_type, value
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-14 12:00:00'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                             ORDER BY ts DESC, event_id DESC) = 1
        |), info AS (
        |  SELECT user_id,
        |    CASE CAST(json_extract(props, '$.k') AS BIGINT) % 3
        |      WHEN 0 THEN 'gold' WHEN 1 THEN 'silver' ELSE 'bronze' END AS tier,
        |    'z' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS VARCHAR)
        |      AS zone,
        |    ts, event_id
        |  FROM events
        |  WHERE event_type = 'signup'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-14 12:00:00'
        |), newest AS (
        |  SELECT user_id, tier, zone FROM info
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) = 1
        |), newest_sel AS (
        |  SELECT user_id, tier, zone FROM info
        |  WHERE tier IN ('gold', 'silver')
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) = 1
        |)
        |SELECT * FROM (
        |  SELECT 'all' AS which, c.user_id, c.event_type, n.tier, n.zone,
        |    round(c.value, 6) AS value
        |  FROM clickv c LEFT JOIN newest n USING (user_id)
        |  UNION ALL
        |  SELECT 'sel', c.user_id, c.event_type, n.tier, n.zone, round(c.value, 6)
        |  FROM clickv c LEFT JOIN newest_sel n USING (user_id)
        |) ORDER BY which, user_id""".stripMargin,

    "q144_promql_neg_offset" ->
      """WITH lastv AS (
        |  SELECT t.tag, e.user_id, e.event_type, e.value
        |  FROM (VALUES ('neg', TIMESTAMP '2024-01-15 12:00:00'),
        |               ('at_neg', TIMESTAMP '2024-01-15 12:00:00')) AS t(tag, te)
        |  JOIN events e ON e.ts <= t.te AND e.ts > t.te - INTERVAL 24 HOURS
        |  QUALIFY row_number() OVER (PARTITION BY t.tag, e.user_id, e.event_type
        |                             ORDER BY e.ts DESC, e.event_id DESC) = 1
        |)
        |SELECT * FROM (
        |  SELECT tag AS which, event_type,
        |    round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |      AS value
        |  FROM lastv GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'range_neg', event_type, round(CAST(count(*) AS DOUBLE), 4)
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 06:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY event_type
        |) ORDER BY which, event_type""".stripMargin,

    "q150_promql_duration_expr" ->
      """WITH lastv AS (
        |  SELECT e.user_id, e.event_type, e.value
        |  FROM events e
        |  WHERE e.ts <= TIMESTAMP '2024-01-15 10:00:00'
        |    AND e.ts >  TIMESTAMP '2024-01-15 10:00:00' - INTERVAL 24 HOURS
        |  QUALIFY row_number() OVER (PARTITION BY e.user_id, e.event_type
        |                             ORDER BY e.ts DESC, e.event_id DESC) = 1
        |)
        |SELECT * FROM (
        |  SELECT 'mul' AS which, event_type, round(CAST(count(*) AS DOUBLE), 4)
        |    AS value
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 06:00:00'
        |  GROUP BY event_type
        |  UNION ALL
        |  SELECT 'off', event_type,
        |    round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |  FROM lastv GROUP BY event_type
        |  UNION ALL
        |  SELECT 'pow', event_type, round(CAST(count(*) AS DOUBLE), 4)
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 11:00:00'
        |  GROUP BY event_type
        |) ORDER BY which, event_type""".stripMargin,

    "q126_promql_at_modifier" ->
      """WITH lastv AS (
        |  SELECT t.tag, e.user_id, e.event_type, e.value
        |  FROM (VALUES ('at', TIMESTAMP '2024-01-15 10:00:00'),
        |               ('at_offset', TIMESTAMP '2024-01-15 08:00:00'),
        |               ('plain_offset', TIMESTAMP '2024-01-15 12:00:00')) AS t(tag, te)
        |  JOIN events e ON e.ts <= t.te AND e.ts > t.te - INTERVAL 24 HOURS
        |  QUALIFY row_number() OVER (PARTITION BY t.tag, e.user_id, e.event_type
        |                             ORDER BY e.ts DESC, e.event_id DESC) = 1
        |)
        |SELECT tag AS which, event_type,
        |  round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS value
        |FROM lastv GROUP BY 1, 2 ORDER BY which, event_type""".stripMargin,

    "q127_promql_holt_winters" ->
      """WITH RECURSIVE w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE event_type = 'click'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), l AS (
        |  SELECT user_id, event_type,
        |    list(value ORDER BY ts, event_id) AS vals
        |  FROM w GROUP BY 1, 2 HAVING count(*) >= 2
        |), r AS (
        |  -- the engine's exact recursion (PromQlParser.holtWinters):
        |  -- seed s1 = y[1], then per step s1' = sf*y + (1-sf)*(s1 + b'),
        |  -- b' = (i=1 ? y[2]-y[1] : tf*(s1-s0) + (1-tf)*b)
        |  SELECT user_id, event_type, 1 AS i,
        |    CAST(0.0 AS DOUBLE) AS s0, vals[1] AS s1, CAST(0.0 AS DOUBLE) AS b
        |  FROM l
        |  UNION ALL
        |  SELECT r.user_id, r.event_type, r.i + 1,
        |    r.s1,
        |    CAST(0.5 AS DOUBLE) * l.vals[r.i + 1] + CAST(0.5 AS DOUBLE) * (r.s1 +
        |      (CASE WHEN r.i = 1 THEN l.vals[2] - r.s1
        |            ELSE CAST(0.25 AS DOUBLE) * (r.s1 - r.s0)
        |                 + CAST(0.75 AS DOUBLE) * r.b END)),
        |    CASE WHEN r.i = 1 THEN l.vals[2] - r.s1
        |         ELSE CAST(0.25 AS DOUBLE) * (r.s1 - r.s0)
        |              + CAST(0.75 AS DOUBLE) * r.b END
        |  FROM r JOIN l ON r.user_id = l.user_id AND r.event_type = l.event_type
        |  WHERE r.i < len(l.vals)
        |)
        |SELECT r.user_id, r.event_type, round(r.s1, 6) AS value
        |FROM r JOIN l ON r.user_id = l.user_id AND r.event_type = l.event_type
        |WHERE r.i = len(l.vals)
        |ORDER BY r.user_id""".stripMargin,

    "q128_promql_absent_over_time" ->
      """WITH w AS (
        |  SELECT user_id, event_type FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT * FROM (
        |  SELECT 'missing' AS which, '' AS user_id, 1.0 AS value
        |  WHERE NOT EXISTS (SELECT 1 FROM w WHERE event_type = 'nosuch_metric')
        |  UNION ALL
        |  SELECT 'labeled', '42', 1.0
        |  WHERE NOT EXISTS (SELECT 1 FROM w WHERE event_type = 'nosuch_metric'
        |                    AND CAST(user_id AS VARCHAR) = '42')
        |  UNION ALL
        |  SELECT 'present', '', 1.0
        |  WHERE NOT EXISTS (SELECT 1 FROM w WHERE event_type = 'click')
        |) ORDER BY which""".stripMargin,

    "q122_promql_age" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT user_id, event_type,
        |  round(1705320000.0 - CAST(epoch_us(max(ts)) AS DOUBLE) / 1000000.0, 6)
        |    AS age_sec
        |FROM w GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,

    "q121_promql_time" ->
      """WITH steps AS (
        |  SELECT make_timestamp((1705190400 + i * 10800) * 1000000) AS step_ts
        |  FROM (SELECT unnest(generate_series(0, 8)) AS i)
        |), w AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE event_type IN ('click', 'view')
        |), live AS (
        |  SELECT DISTINCT s.step_ts, w.user_id, w.event_type
        |  FROM steps s JOIN w
        |    ON w.ts <= s.step_ts AND w.ts > s.step_ts - INTERVAL 2 HOURS
        |)
        |SELECT user_id, event_type, step_ts,
        |  round(CAST(epoch(step_ts) AS DOUBLE), 1) AS value
        |FROM live ORDER BY user_id, event_type, step_ts""".stripMargin,

    "q120_promql_counter_fns" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id, value FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), p AS (
        |  SELECT user_id, event_type, value,
        |    lag(value) OVER win AS prev,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM w
        |  WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |)
        |SELECT 'resets' AS fn, user_id, event_type,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END)
        |       AS DOUBLE) AS value
        |FROM p GROUP BY 2, 3
        |UNION ALL
        |SELECT 'changes', user_id, event_type,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END)
        |       AS DOUBLE)
        |FROM p GROUP BY 2, 3
        |UNION ALL
        |SELECT 'idelta', user_id, event_type,
        |  round(max(CASE WHEN rd = 1 THEN value END)
        |        - max(CASE WHEN rd = 2 THEN value END), 6)
        |FROM p GROUP BY 2, 3 HAVING count(*) >= 2
        |ORDER BY fn, user_id, event_type""".stripMargin,

    "q115_promql_fns" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT user_id, event_type,
        |  CAST(user_id AS VARCHAR) || '|' || event_type AS series,
        |  round(least(greatest(floor(value / 0.5 + 0.5) * 0.5, 10.0), 200.0), 6)
        |    AS value
        |FROM lastv WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q116_promql_over_time_ext" ->
      """WITH w AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 12 HOURS
        |), lastv AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM w
        |)
        |SELECT 'last' AS fn, user_id, round(value, 6) AS value
        |FROM lastv WHERE rn = 1
        |UNION ALL
        |SELECT 'q50', user_id, round(quantile_cont(value, 0.5), 6)
        |FROM w GROUP BY user_id
        |UNION ALL
        |SELECT 'stddev', user_id, round(stddev_pop(value), 6)
        |FROM w GROUP BY user_id
        |ORDER BY fn, user_id""".stripMargin,

    // Mirrors linearFit exactly: decimal-exact sums, then ONE fixed double
    // expression for slope/intercept — identical IEEE arithmetic on both
    // engines, so even round(…, 9) is safe. (DECIMAL(19,0) here, not the
    // engine's 14: DuckDB decimals ≤18 digits are int64-backed and its
    // products overflow; 19 forces int128 storage. Exactness is what
    // matters for parity, not the declared width.)
    "q117_promql_deriv" ->
      """WITH w AS (
        |  SELECT user_id,
        |    CAST(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-15 12:00:00')
        |         AS DECIMAL(19,0)) AS x,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS y
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts >  TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), s AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx
        |  FROM w GROUP BY user_id HAVING count(*) >= 2
        |), fit AS (
        |  SELECT user_id, n, sx, sy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_us
        |  FROM s
        |)
        |SELECT 'deriv' AS fn, user_id, round(slope_us * 1000000.0, 9) AS value
        |FROM fit
        |UNION ALL
        |SELECT 'predict', user_id,
        |  round((sy - slope_us * sx) / n + slope_us * (3600.0 * 1000000.0), 9)
        |FROM fit
        |ORDER BY fn, user_id""".stripMargin,

    "q113_promql_agg_ext" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1
        |)
        |SELECT 'stddev' AS fn, event_type, round(stddev_pop(value), 6) AS value
        |FROM iv GROUP BY event_type
        |UNION ALL
        |SELECT 'stdvar', event_type, round(var_pop(value), 6) FROM iv GROUP BY event_type
        |UNION ALL
        |SELECT 'quantile', event_type, round(quantile_cont(value, 0.9), 6)
        |FROM iv GROUP BY event_type
        |ORDER BY fn, event_type""".stripMargin,

    // Presence is derived from the data on both engines: each arm emits
    // its 1.0-sample only when the selector matches nothing in the
    // lookback window.
    "q114_promql_absent" ->
      """WITH w AS (
        |  SELECT event_type FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |)
        |SELECT 'missing' AS which, 1.0 AS value
        |WHERE NOT EXISTS (SELECT 1 FROM w WHERE event_type = 'nosuch_metric')
        |UNION ALL
        |SELECT 'present', 1.0
        |WHERE NOT EXISTS (SELECT 1 FROM w WHERE event_type = 'click')
        |ORDER BY which""".stripMargin,

    "q109_promql_cmp" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1
        |)
        |SELECT 'gt' AS op, user_id, event_type, round(value, 6) AS value
        |FROM iv WHERE value > 120
        |UNION ALL
        |SELECT 'gt_bool', user_id, event_type, 1.0
        |FROM iv WHERE value > 120
        |ORDER BY op, user_id, event_type""".stripMargin,

    "q110_promql_setops" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1
        |), click AS (SELECT user_id, value FROM iv WHERE event_type = 'click'),
        |purch AS (SELECT user_id FROM iv WHERE event_type = 'purchase')
        |SELECT 'and' AS op, user_id, round(value, 6) AS value FROM click
        |WHERE user_id IN (SELECT user_id FROM purch)
        |UNION ALL
        |SELECT 'unless', user_id, round(value, 6) FROM click
        |WHERE user_id NOT IN (SELECT user_id FROM purch)
        |ORDER BY op, user_id""".stripMargin,

    // Mirrors the engine exactly: the one side's total is the
    // decimal-routed sum; the share is ONE double division (plus the IEEE
    // zero-divisor branches DuckDB doesn't share).
    "q111_promql_group_left" ->
      """WITH lastv AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
        |    AND ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 24 HOURS
        |), iv AS (
        |  SELECT user_id, event_type, value FROM lastv WHERE rn = 1
        |), tot AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS tv
        |  FROM iv GROUP BY 1
        |)
        |SELECT iv.user_id, iv.event_type,
        |  CASE WHEN t.tv = 0 THEN
        |    CASE WHEN iv.value > 0 THEN CAST('infinity' AS DOUBLE)
        |         WHEN iv.value < 0 THEN CAST('-infinity' AS DOUBLE)
        |         ELSE CAST('nan' AS DOUBLE) END
        |  ELSE round(iv.value / t.tv, 6) END AS share
        |FROM iv JOIN tot t USING (user_id)
        |ORDER BY iv.user_id, iv.event_type""".stripMargin,

    "q91_histogram_quantile" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CASE WHEN value <= 10 THEN 0 WHEN value <= 25 THEN 1
        |         WHEN value <= 50 THEN 2 WHEN value <= 100 THEN 3
        |         WHEN value <= 250 THEN 4 ELSE 5 END AS bk
        |  FROM events
        |), counts AS (
        |  SELECT event_type, bk, count(*) AS cnt FROM b GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, bk, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bk) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS total
        |  FROM counts
        |), qs AS (
        |  -- q stays DECIMAL so rank = q*total is exact; the interpolation
        |  -- numerator is DECIMAL too — one double division at the end
        |  -- (same fixed shape as the Spark plan).
        |  SELECT unnest([CAST(0.5 AS DECIMAL(6,4)), 0.9, 0.99]) AS q
        |), picked AS (
        |  SELECT c.event_type, qs.q, c.bk, c.cnt, c.cum, c.total,
        |    qs.q * c.total AS rank,
        |    row_number() OVER (PARTITION BY c.event_type, qs.q ORDER BY c.bk) AS rn
        |  FROM cum c CROSS JOIN qs
        |  WHERE c.cum >= qs.q * c.total
        |)
        |SELECT event_type, CAST(q AS DOUBLE) AS q, round(
        |  CASE WHEN bk = 5 THEN 250.0 ELSE
        |    (CASE bk WHEN 0 THEN 0.0 WHEN 1 THEN 10.0 WHEN 2 THEN 25.0
        |             WHEN 3 THEN 50.0 WHEN 4 THEN 100.0 END)
        |    + CAST((rank - (cum - cnt)) *
        |      CAST((CASE bk WHEN 0 THEN 10.0 WHEN 1 THEN 25.0 WHEN 2 THEN 50.0
        |                WHEN 3 THEN 100.0 WHEN 4 THEN 250.0 END)
        |       - (CASE bk WHEN 0 THEN 0.0 WHEN 1 THEN 10.0 WHEN 2 THEN 25.0
        |                  WHEN 3 THEN 50.0 WHEN 4 THEN 100.0 END) AS DECIMAL(10,1))
        |      AS DOUBLE) / cnt
        |  END, 6) AS quantile_value
        |FROM picked WHERE rn = 1 ORDER BY event_type, q""".stripMargin
  )
}
