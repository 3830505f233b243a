package graft.metrics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** PromQL front-end for the engine's query service (P14): parses a
  * practical PromQL subset and compiles it onto the [[PromQl]] DataFrame
  * transforms, so a user of the reference's Prometheus query path can run
  * their query STRINGS against the engine (the reference consumed
  * `query_range` pulls and PromQL exprs; `reference/CHANGELOG.md:10,90`).
  *
  * Supported grammar (instant evaluation at T via [[eval]]; step-grid
  * `query_range` evaluation via [[evalRange]]):
  * {{{
  *   expr     := or
  *   or       := andun ('or' matching? andun)*
  *   andun    := cmp (('and'|'unless') matching? cmp)*
  *   cmp      := add (('=='|'!='|'>'|'<'|'>='|'<=') 'bool'? matching? add)*
  *   add      := mul (('+'|'-') matching? mul)*
  *   mul      := pow (('*'|'/'|'%'|'atan2') matching? pow)*
  *   pow      := unary ('^' matching? pow)?   (right-assoc; unary sign
  *               binds looser: -2^2 = −4)
  *   matching := ('on'|'ignoring') '(' label (',' label)* ')'
  *               (('group_left'|'group_right') ('(' label (',' label)* ')')?)?
  *   unary    := ('(' expr ')' | NUMBER | agg | range | hist | absent
  *             | vecfn | labelfn | selector offset?) subq?
  *   subq     := '[' DURATION ':' DURATION ']'   (under *_over_time only)
  *   agg      := ('sum'|'avg'|'min'|'max'|'count'|'stddev'|'stdvar'|'group')
  *               grouping? '(' expr ')' grouping?
  *             | ('topk'|'bottomk') '(' INT ',' expr ')' grouping?
  *             | 'quantile' grouping? '(' NUMBER ',' expr ')' grouping?
  *   grouping := ('by'|'without') '(' label (',' label)* ')'
  *   hist     := 'histogram_quantile' '(' NUMBER ',' expr ')'
  *             | ('histogram_count'|'histogram_sum'|'histogram_avg'|
  *                'histogram_stddev'|'histogram_stdvar') '(' expr ')'
  *             | 'histogram_fraction' '(' NUMBER ',' NUMBER ',' expr ')'
  *   absent   := 'absent' '(' selector offset? ')'
  *   vecfn    := ('abs'|'ceil'|'floor'|'sqrt'|'exp'|'ln'|'log2'|'log10'|
  *                'sgn'|'acos'|'acosh'|'asin'|'asinh'|'atan'|'atanh'|
  *                'cos'|'cosh'|'sin'|'sinh'|'tan'|'tanh'|'deg'|'rad')
  *               '(' expr ')'
  *             | 'pi' '(' ')'                  (folds to a scalar literal)
  *             | 'round' '(' expr (',' NUMBER)? ')'
  *             | 'clamp' '(' expr ',' NUMBER ',' NUMBER ')'
  *             | ('clamp_min'|'clamp_max') '(' expr ',' NUMBER ')'
  *             | ('sort'|'sort_desc') '(' expr ')'
  *             | ('sort_by_label'|'sort_by_label_desc') '(' expr (',' STR)+ ')'
  *             | 'limitk' '(' INT ',' expr ')' ('by' '(' label* ')')?
  *             | 'limit_ratio' '(' NUMBER ',' expr ')' ('by' '(' label* ')')?
  *             | 'scalar' '(' expr ')' | 'vector' '(' expr ')'
  *             | ('minute'|'hour'|'day_of_week'|'day_of_month'|
  *                'day_of_year'|'days_in_month'|'month'|'year') '(' expr? ')'
  *   labelfn  := 'label_replace' '(' expr ',' STR ',' STR ',' STR ',' STR ')'
  *             | 'label_join' '(' expr ',' STR ',' STR (',' STR)* ')'
  *   range    := ('rate'|'increase'|'delta'|'irate'|'deriv'|
  *                'sum_over_time'|'avg_over_time'|'max_over_time'|
  *                'min_over_time'|'count_over_time'|'last_over_time'|
  *                'present_over_time'|'stddev_over_time'|'stdvar_over_time'|
  *                'mad_over_time'|'ts_of_max_over_time'|
  *                'ts_of_min_over_time'|'ts_of_last_over_time')
  *               '(' selector '[' DURATION ']' offset? ')'
  *             | 'quantile_over_time' '(' NUMBER ',' selector '[' DURATION ']' offset? ')'
  *             | 'predict_linear' '(' selector '[' DURATION ']' offset? ',' NUMBER ')'
  *             | ('holt_winters'|'double_exponential_smoothing')
  *               '(' selector '[' DURATION ']' offset? ',' NUMBER ',' NUMBER ')'
  *             | 'absent_over_time' '(' selector '[' DURATION ']' offset? ')'
  *   offset   := ('offset' DURATION | '@' (NUMBER|'start()'|'end()'))*
  *               (either order; @ is epoch seconds or the range's edges)
  *   selector := metric matchers? | matchers
  *   matcher  := label ('='|'!='|'=~'|'!~') STRING
  * }}}
  *
  * Binary operators compile to a series-keyed equi-join on the matching
  * labels (inner join = Prometheus label-mismatch drop; result keeps the
  * lhs label set; one-to-one cardinality is the query author's contract,
  * as in Prometheus without group_left/right). `group_left`/`group_right`
  * declare many-to-one matching: the result keeps the MANY side's label
  * set plus any listed copy-labels taken from the one side (the rollouts
  * canary shape — per-hash_id series over a namespace-level aggregate,
  * `reference/CHANGELOG.md:499,481`); uniqueness of the one side per match
  * key is the author's contract, as in Prometheus. Comparison operators
  * filter the left vector (`expr > N` — the reference's static-threshold
  * output stage, `reference/CHANGELOG.md:369,421`); with `bool` they keep
  * every sample and project 1.0/0.0. Set operators compile to the same
  * keyed join machinery: `and` = left-semi, `unless` = left-anti, `or` =
  * union plus an anti-join on the match key (right side fills only where
  * the left has no sample). `histogram_quantile` expects its child vector
  * to carry an `le` label with cumulative bucket values — the Prometheus
  * bucket data model.
  *
  * Semantics follow Prometheus: the metric name selects on the source's
  * `metricCol`; regex matchers are fully anchored; a bare selector is an
  * instant vector with staleness lookback; range functions aggregate the
  * trailing window (T−w, T] per series, with [[PromQl.counterIncrease]]'s
  * reset rule inside `rate`/`increase`.
  *
  * Determinism contract (oracle-checkable outputs): every sum routes
  * through round-6 DECIMAL accumulation; `rate`/`avg` end in ONE double
  * division; `topk` requires explicit total-order tie-breaking on the
  * series key. All compiled plans are single-pass grouped aggregations or
  * windows keyed by the series key — the same shapes as the hand-built
  * q89–q97, so the 100 TB posture is inherited.
  */
object PromQlParser {

  /** Binding of a NATIVE-HISTOGRAM sample frame: rows are
    * `(seriesKey…, tsCol, schema, count, sum, zero_count, pos, neg)` in
    * the [[NativeHistogram]] sparse layout, one CUMULATIVE histogram per
    * scrape per series (the Prometheus native-histogram sample model,
    * stable since 3.x). `metricCol` names the column holding the metric
    * name, exactly like [[PromSource.metricCol]]. */
  final case class HistBinding(df: DataFrame, metricCol: String,
                               seriesKey: Seq[String], tsCol: String,
                               orderCol: String)

  /** Binding of an INFO-metric frame for `info()` (Prometheus 3.x
    * experimental): one row per info SAMPLE —
    * `(metricCol, identifying…, dataLabels…, tsCol, orderCol)`.
    * `identifying` is the join key (upstream hardcodes
    * `(instance, job)`; here the binding declares it), `dataLabels` the
    * columns `info()` copies onto matching samples. */
  final case class InfoBinding(df: DataFrame, metricCol: String,
                               identifying: Seq[String],
                               dataLabels: Seq[String], tsCol: String,
                               orderCol: String)

  /** Binding of a sample frame to the Prometheus data model. `hist`
    * optionally binds a second, histogram-valued frame: `histogram_count/
    * sum/avg/stddev/stdvar/fraction` resolve their selector against it,
    * and `histogram_quantile` routes to it when its child vector carries
    * no classic `le` label. */
  final case class PromSource(df: DataFrame, metricCol: String,
                              seriesKey: Seq[String], tsCol: String,
                              orderCol: String, valueCol: String,
                              hist: Option[HistBinding] = None,
                              info: Option[InfoBinding] = None)

  // ---------- AST ----------
  sealed trait Ast
  final case class Matcher(label: String, op: String, value: String)
  /** The `@` modifier's pin: an absolute epoch instant, or the range's
    * own start/end (`@ start()` / `@ end()` — Grafana emits these; for an
    * instant query both edges ARE the evaluation instant). */
  sealed trait At
  final case class AtTs(sec: Long) extends At
  case object AtStart extends At
  case object AtEnd extends At
  /** `at` is the `@` modifier: a FIXED evaluation instant replacing the
    * query's own; `offset` still applies, relative to it — the Prometheus
    * composition rule. */
  final case class Selector(metric: Option[String], matchers: Seq[Matcher],
                            offsetSec: Long = 0L,
                            at: Option[At] = None) extends Ast
  /** `param` carries the extra scalar of `quantile_over_time` (φ),
    * `predict_linear` (the horizon t, seconds) and `holt_winters` (sf);
    * `param2` only holt_winters' trend factor tf. (Options, not NaN
    * defaults: NaN ≠ NaN would break AST equality.) */
  final case class RangeFn(fn: String, sel: Selector, windowSec: Long,
                           param: Option[Double] = None,
                           param2: Option[Double] = None) extends Ast
  /** `sort()`/`sort_desc()`: order the instant vector by sample value
    * (label columns break ties so the order is total); with `byLabels`
    * nonempty it is `sort_by_label(_desc)` — ordered by those labels,
    * remaining labels breaking ties. A no-op on the `query_range` grid,
    * as in Prometheus. */
  final case class SortFn(desc: Boolean, child: Ast,
                          byLabels: Seq[String] = Nil) extends Ast
  /** `info(v[, {matchers}])` (Prometheus 3.x experimental): enrich each
    * sample of `v` with the DATA labels of the newest in-lookback
    * info-metric row sharing the binding's identifying labels. Matchers
    * in the optional second argument filter info rows (a `__name__`
    * matcher selects info metrics, data-label matchers their values)
    * and narrow which data labels are copied; samples with no matching
    * info row pass through unchanged (null data labels). */
  final case class InfoFn(child: Ast, dataSel: Seq[Matcher] = Nil) extends Ast

  /** `limitk(k, v)`: AT MOST k series per group. The engine's selection
    * rule is the lexical first k by the full label tuple — deterministic
    * and oracle-able (upstream's experimental limitk samples by label
    * hash; ANY k-subset satisfies the operator's contract, and a
    * deterministic rule is the one that can be verified). */
  final case class LimitK(k: Int, by: Seq[String], child: Ast) extends Ast
  /** `limit_ratio(r, v)`: deterministic ratio-sample of the vector's
    * series by label-tuple hash — r ∈ [-1, 1]; a positive r keeps series
    * whose hash fraction is < r, a negative r keeps the COMPLEMENT
    * (fraction ≥ 1+r), so `limit_ratio(0.2, v)` and
    * `limit_ratio(-0.8, v)` partition the vector exactly (the upstream
    * complementarity contract). The engine's hash is md5 over the
    * canonical sorted `label=value` tuple — engine-independent, so the
    * oracle reproduces the selection bit-for-bit (upstream hashes with
    * its internal label hash; ANY deterministic hash satisfies the
    * operator's contract). `by()` is accepted for grammar compatibility
    * but vacuous: selection is per-series, independent of grouping. */
  final case class LimitRatio(r: Double, child: Ast) extends Ast
  /** `scalar(v)`: the single element's value if the vector has exactly
    * one element, else NaN — usable wherever a scalar is. */
  final case class ScalarFn(child: Ast) extends Ast
  /** `vector(s)`: a one-element, no-label instant vector carrying the
    * scalar — the `or vector(0)` default idiom's right-hand side. */
  final case class VectorFn(child: Ast) extends Ast
  /** Time-component functions `minute|hour|day_of_week|day_of_month|
    * days_in_month|month|year` (UTC, the Prometheus rule). No argument =
    * the component of the evaluation instant (one no-label element);
    * with a vector argument, each sample's value is read as epoch
    * seconds and replaced by its component. */
  final case class TimeComp(fn: String, child: Option[Ast]) extends Ast
  /** `without=true` groups by all labels EXCEPT `by` (PromQL `without`). */
  final case class AggBy(fn: String, by: Seq[String], child: Ast,
                         without: Boolean = false) extends Ast
  /** `bottom=true` is `bottomk` (ascending selection). */
  final case class TopK(k: Int, by: Seq[String], child: Ast,
                        bottom: Boolean = false) extends Ast
  /** Map-side scalar function over a vector's values (`abs`, `clamp`, …);
    * `args` holds the function's numeric arguments. */
  final case class VecFn(fn: String, child: Ast, args: Seq[Double] = Nil) extends Ast
  /** `selector '[' DUR ']'` — a range vector; only valid as a range
    * function's argument (enforced at compile). */
  final case class RangeVec(sel: Selector, windowSec: Long,
                            mode: Option[String] = None) extends Ast
  /** EXTENDED range selector (Prometheus 3.5 experimental
    * `promql-extended-range-selectors`): `rate(sel[1m] anchored)` /
    * `smoothed` — boundary values from straddling samples instead of
    * extrapolation; only `rate`/`increase`/`delta` accept the modifier
    * (the upstream restriction). Both eval faces supported and two-sided:
    * instant and grid share PromQl.adjusted + PromQl.boundaryValue, fetch
    * one lookback behind the window start (left anchor) and one ahead of
    * the window end (smoothed's right straddle, when storage has a later
    * sample — at the live head there is none and the right edge falls
    * back to the newest in-window sample). One-step evalRange ≡ eval
    * exactly. */
  final case class ExtRange(mode: String, fn: String, sel: Selector,
                            windowSec: Long) extends Ast
  /** `expr '[' RANGE ':' STEP ']'` — a PromQL subquery: the inner
    * expression evaluated on a step grid over the trailing range; only
    * valid under a `*_over_time` function (enforced at compile). */
  final case class Subquery(child: Ast, rangeSec: Long, stepSec: Long,
                            offsetSec: Long = 0L,
                            at: Option[At] = None) extends Ast
  /** A `*_over_time` function applied to a [[Subquery]] — the
    * `max_over_time(rate(m[5m])[1h:5m])` alerting idiom. */
  final case class RangeSub(fn: String, sub: Subquery,
                            param: Option[Double] = None) extends Ast
  /** `label_replace`/`label_join`: `sepOrRepl` is the replacement string
    * (replace) or separator (join); `regex` only for replace. */
  final case class LabelFn(fn: String, child: Ast, dst: String,
                           sepOrRepl: String, srcs: Seq[String],
                           regex: String = "") extends Ast
  /** `quantile(φ, v)` vector aggregation: φ-quantile (linear interpolation
    * between sorted sample values, the Prometheus rule) per group. */
  final case class AggQuantile(phi: Double, by: Seq[String], child: Ast,
                               without: Boolean = false) extends Ast
  /** `absent(selector)`: one sample (value 1, labels from the selector's
    * equality matchers) iff the selector matches nothing; empty otherwise. */
  final case class Absent(sel: Selector) extends Ast
  /** `count_values("label", v)`: series count per distinct sample value,
    * the value carried as a new string label (cardinality analysis). */
  final case class CountValues(label: String, by: Seq[String], child: Ast,
                               without: Boolean = false) extends Ast
  /** `timestamp(selector)`: each live series' value becomes the epoch
    * second of its most recent sample (the `time() - timestamp(v)` age
    * idiom's right-hand side). */
  final case class TimestampFn(sel: Selector) extends Ast
  /** `group_left`/`group_right` many-to-one modifier: `left` marks which
    * side is MANY; `copy` lists labels copied over from the one side. */
  final case class Grp(left: Boolean, copy: Seq[String])
  /** Vector operator `lhs op rhs` (arithmetic `+ - * /`, comparison
    * `== != > < >= <=`, set `and or unless`) with PromQL vector matching:
    * join on `on` labels / all-common-labels minus `ignoring` labels.
    * `matching = Some((isOn, labels))`; None = match on all common label
    * columns. `bool` turns a comparison from a filter into a 0/1 value. */
  final case class BinOp(op: String, lhs: Ast, rhs: Ast,
                         matching: Option[(Boolean, Seq[String])],
                         group: Option[Grp] = None,
                         bool: Boolean = false) extends Ast
  /** A bare number: scalar operand of a BinOp (`rate(m[5m]) * 100`). */
  final case class ScalarLit(v: Double) extends Ast
  /** `time()`: the evaluation timestamp as a scalar — the instant T in an
    * instant query, each step's own T_i on the `query_range` grid. */
  case object TimeFn extends Ast
  /** `histogram_quantile(q, expr)`: child must evaluate to a vector with an
    * `le` label carrying cumulative bucket counts (Prometheus data model). */
  final case class HistQuantile(q: Double, child: Ast) extends Ast
  /** The native-histogram scalar battery, `histogram_<fn>(child)` with
    * fn ∈ count/sum/avg/stddev/stdvar/fraction (3.x functions): `child`
    * must be a plain selector over the [[HistBinding]] frame or
    * `rate(sel[w])` / `increase(sel[w])` of one. `lo`/`hi` only for
    * `histogram_fraction(lo, hi, v)`. */
  final case class HistFn(fn: String, child: Ast,
                          lo: Option[Double] = None,
                          hi: Option[Double] = None) extends Ast

  // ---------- Lexer ----------
  private sealed trait Tok
  private final case class Ident(s: String) extends Tok
  private final case class Str(s: String) extends Tok
  private final case class Num(n: Long) extends Tok
  private final case class Flt(d: Double) extends Tok
  private final case class Dur(seconds: Long) extends Tok
  private final case class Sym(s: String) extends Tok

  private def lex(q: String): List[Tok] = {
    val out = List.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      // ':' CONTINUES an identifier (recording-rule names like
      // job:rate:5m) but never starts one — a leading ':' must lex as the
      // subquery range/step separator.
      else if (c.isLetter || c == '_') {
        val j = q.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_' || ch == ':'), i)
        val end = if (j < 0) q.length else j
        out += Ident(q.substring(i, end)); i = end
      } else if (c.isDigit) {
        val j = q.indexWhere(ch => !ch.isDigit, i)
        val end = if (j < 0) q.length else j
        if (end < q.length && q(end) == '.') {
          // float literal (scalar operand / histogram_quantile φ)
          val j2 = q.indexWhere(ch => !ch.isDigit, end + 1)
          val end2 = if (j2 < 0) q.length else j2
          out += Flt(q.substring(i, end2).toDouble); i = end2
        } else {
          val n = q.substring(i, end).toLong
          val unitSec = Map('s' -> 1L, 'm' -> 60L, 'h' -> 3600L,
            'd' -> 86400L, 'w' -> 604800L, 'y' -> 31536000L)
          if (end < q.length && unitSec.contains(q(end))) {
            // compound durations (1h30m, 1w2d) accumulate consecutive
            // <digits><unit> segments with no separator — the Prometheus
            // form; a trailing digit run without a unit is left for the
            // next token (and fails the parse there, as upstream does)
            var total = n * unitSec(q(end))
            var k = end + 1
            var more = true
            while (more && k < q.length && q(k).isDigit) {
              val je = q.indexWhere(ch => !ch.isDigit, k)
              val segEnd = if (je < 0) q.length else je
              if (segEnd < q.length && unitSec.contains(q(segEnd))) {
                total += q.substring(k, segEnd).toLong * unitSec(q(segEnd))
                k = segEnd + 1
              } else more = false
            }
            out += Dur(total); i = k
          } else { out += Num(n); i = end }
        }
      } else if (c == '"' || c == '\'') {
        val end = q.indexOf(c, i + 1)
        require(end > 0, s"unterminated string at $i in: $q")
        out += Str(q.substring(i + 1, end)); i = end + 1
      } else if (c == '!' || c == '=') {
        val two = q.substring(i, math.min(i + 2, q.length))
        if (two == "!=" || two == "=~" || two == "!~" || two == "==") { out += Sym(two); i += 2 }
        else { out += Sym("="); i += 1 }
      } else if (c == '<' || c == '>') {
        if (i + 1 < q.length && q(i + 1) == '=') { out += Sym(s"$c="); i += 2 }
        else { out += Sym(c.toString); i += 1 }
      } else { out += Sym(c.toString); i += 1 }
    }
    out.result()
  }

  // ---------- Parser (recursive descent over the token list) ----------
  private final class P(var toks: List[Tok], query: String,
                        stepSec: Long = 0L) {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"PromQL parse error: $msg in: $query")
    def peek: Option[Tok] = toks.headOption
    def next(): Tok = toks match {
      case h :: t => toks = t; h
      case Nil => fail("unexpected end of input")
    }
    def expect(sym: String): Unit = next() match {
      case Sym(`sym`) => ()
      case other => fail(s"expected '$sym', got $other")
    }

    private val aggFns = Set("sum", "avg", "min", "max", "count",
      "stddev", "stdvar", "group")
    private val rangeFns = Set("rate", "increase", "delta", "irate", "idelta",
      "deriv", "resets", "changes", "absent_over_time",
      "sum_over_time", "avg_over_time", "max_over_time", "min_over_time",
      "count_over_time", "last_over_time", "present_over_time",
      "stddev_over_time", "stdvar_over_time",
      // the 3.x experimental family: median-absolute-deviation and the
      // chosen sample's own timestamp as the value
      "mad_over_time", "ts_of_max_over_time", "ts_of_min_over_time",
      "ts_of_last_over_time")
    private val vecFns1 = Set("abs", "ceil", "floor", "sqrt", "exp", "ln",
      "log2", "log10", "sgn",
      // the Prometheus trig battery (radians in, radians out; deg/rad
      // convert) — map-side libm projections like every other scalar fn
      "acos", "acosh", "asin", "asinh", "atan", "atanh",
      "cos", "cosh", "sin", "sinh", "tan", "tanh", "deg", "rad")
    private val timeCompFns = Set("minute", "hour", "day_of_week",
      "day_of_month", "day_of_year", "days_in_month", "month", "year")

    private def parseNum(): Double = next() match {
      case Flt(d) => d
      case Num(n) => n.toDouble
      case other => fail(s"expected a number, got $other")
    }

    private def parseStr(): String = next() match {
      case Str(s) => s
      case other => fail(s"expected a quoted string, got $other")
    }

    /** A possibly-negated numeric literal argument (no expression
      * folding — these are fixed function parameters). */
    private def parseSignedNum(what: String): Double = next() match {
      case Num(n) => n.toDouble
      case Flt(d) => d
      case Sym("-") => next() match {
        case Num(n) => -n.toDouble
        case Flt(d) => -d
        case other => fail(s"expected a number for $what, got -$other")
      }
      case other => fail(s"expected a number for $what, got $other")
    }

    /** A range-vector function's parsed argument: classic
      * `selector[dur]` → [[RangeFn]]; `expr[range:step]` → [[RangeSub]]. */
    private def rangeArg(fn: String, arg: Ast, param: Option[Double]): Ast =
      arg match {
        case RangeVec(sel, w, None) => RangeFn(fn, sel, w, param)
        case RangeVec(sel, w, Some(m)) =>
          // upstream restricts the extended modifiers to the three
          // boundary-sensitive functions
          if (fn == "rate" || fn == "increase" || fn == "delta")
            ExtRange(m, fn, sel, w)
          else fail(s"'$m' range modifier is not allowed with $fn " +
            "(only rate/increase/delta)")
        case sub: Subquery => RangeSub(fn, sub, param)
        case other => fail(s"$fn expects a range vector or subquery, got $other")
      }

    /** Binary operators, PromQL precedence (tightest → loosest): `* /`,
      * `+ -`, comparisons, `and unless`, `or` — all left-associative, each
      * optionally carrying an `on(...)`/`ignoring(...)` vector-matching
      * modifier (comparison/arithmetic also `group_left`/`group_right`,
      * comparison also `bool`). */
    def parseExpr(): Ast = parseOr()

    private def parseOr(): Ast = {
      var left = parseAndUnless()
      var go = true
      while (go) peek match {
        case Some(Ident("or")) =>
          next(); val (m, g) = parseMatchingOpt()
          left = BinOp("or", left, parseAndUnless(), m, g)
        case _ => go = false
      }
      left
    }

    private def parseAndUnless(): Ast = {
      var left = parseCmp()
      var go = true
      while (go) peek match {
        case Some(Ident(op @ ("and" | "unless"))) =>
          next(); val (m, g) = parseMatchingOpt()
          left = BinOp(op, left, parseCmp(), m, g)
        case _ => go = false
      }
      left
    }

    private val cmpSyms = Set("==", "!=", ">", "<", ">=", "<=")

    private def parseCmp(): Ast = {
      var left = parseAddSub()
      var go = true
      while (go) peek match {
        case Some(Sym(op)) if cmpSyms(op) =>
          next()
          val bool = peek match {
            case Some(Ident("bool")) => next(); true
            case _ => false
          }
          val (m, g) = parseMatchingOpt()
          left = BinOp(op, left, parseAddSub(), m, g, bool)
        case _ => go = false
      }
      left
    }

    /** Parse-time constant folding: arithmetic on two scalar LITERALS
      * collapses to a literal (IEEE semantics, matching [[binApply]] —
      * Java's double `/` and `%` already give ±Inf/NaN on zero
      * divisors), so `-2^2`, `60 * 60` or `vector(2^10)` compose
      * without tripping the scalar-only-expression refusal. */
    private def mkArith(op: String, l: Ast, r: Ast,
                        m: Option[(Boolean, Seq[String])],
                        g: Option[Grp]): Ast = (l, r) match {
      case (ScalarLit(a), ScalarLit(b)) if m.isEmpty =>
        ScalarLit(op match {
          case "+" => a + b
          case "-" => a - b
          case "*" => a * b
          case "/" => a / b
          case "%" => a % b
          case "^" => math.pow(a, b)
          case "atan2" => math.atan2(a, b)
        })
      case _ => BinOp(op, l, r, m, g)
    }

    private def parseAddSub(): Ast = {
      var left = parseMulDiv()
      var go = true
      while (go) peek match {
        case Some(Sym(op @ ("+" | "-"))) =>
          next(); val (m, g) = parseMatchingOpt()
          left = mkArith(op, left, parseMulDiv(), m, g)
        case _ => go = false
      }
      left
    }

    private def parseMulDiv(): Ast = {
      var left = parsePow()
      var go = true
      while (go) peek match {
        case Some(Sym(op @ ("*" | "/" | "%"))) =>
          next(); val (m, g) = parseMatchingOpt()
          left = mkArith(op, left, parsePow(), m, g)
        // `atan2` in operator position (after a complete operand) — the
        // one keyword-named arithmetic operator; same tier as * / %
        case Some(Ident("atan2")) =>
          next(); val (m, g) = parseMatchingOpt()
          left = mkArith("atan2", left, parsePow(), m, g)
        case _ => go = false
      }
      left
    }

    /** `^` — the tightest binary tier and the only RIGHT-associative one
      * (`2^3^2` = 2^9); unary sign binds looser (`-2^2` = −4), which is
      * why [[parseUnary0]]'s sign cases re-enter HERE, not parseUnary. */
    private def parsePow(): Ast = {
      val base = parseUnary()
      peek match {
        case Some(Sym("^")) =>
          next(); val (m, g) = parseMatchingOpt()
          mkArith("^", base, parsePow(), m, g)
        case _ => base
      }
    }

    /** `on (l, ...)` / `ignoring (l, ...)` after a binary operator,
      * optionally followed by `group_left`/`group_right` with an optional
      * copy-label list (a '(' right after the keyword is ALWAYS the label
      * list, as in Prometheus — parenthesize the rhs to disambiguate). */
    private def parseMatchingOpt(): (Option[(Boolean, Seq[String])], Option[Grp]) = peek match {
      case Some(Ident(kw @ ("on" | "ignoring"))) if toks.drop(1).headOption.contains(Sym("(")) =>
        next()
        val m = Some((kw == "on", parseLabelList()))
        val g = peek match {
          case Some(Ident(gkw @ ("group_left" | "group_right"))) =>
            next()
            val copy = peek match {
              case Some(Sym("(")) => parseLabelList()
              case _ => Seq.empty[String]
            }
            Some(Grp(gkw == "group_left", copy))
          case _ => None
        }
        (m, g)
      case _ => (None, None)
    }

    private def parseLabelList(): Seq[String] = {
      expect("(")
      val labels = Seq.newBuilder[String]
      var done = peek.contains(Sym(")"))
      if (done) next()
      while (!done) next() match {
        // quoted (UTF-8, 3.x) label names are legal in by/without/on/
        // ignoring lists: `sum by ("zone.region") (...)`
        case Ident(l) => labels += l
          peek match {
            case Some(Sym(",")) => next()
            case Some(Sym(")")) => next(); done = true
            case other => fail(s"expected ',' or ')' in label list, got $other")
          }
        case Str(l) => labels += l
          peek match {
            case Some(Sym(",")) => next()
            case Some(Sym(")")) => next(); done = true
            case other => fail(s"expected ',' or ')' in label list, got $other")
          }
        case other => fail(s"expected a label name, got $other")
      }
      labels.result()
    }

    /** Duration EXPRESSIONS (Prometheus 3.4 experimental,
      * `--enable-feature=promql-duration-expr`): arithmetic over duration
      * literals and bare numbers (seconds) with `+ - * / % ^`, unary
      * sign, and parentheses — same precedence tiers as PromQL scalar
      * arithmetic (`^` tightest + right-assoc, unary binds looser than
      * `^`). The expression is FOLDED AT PARSE TIME to a constant (as
      * upstream folds before evaluation — durations cannot reference
      * series data), so the printer emits the canonical folded duration
      * and parse∘print stays id. The engine's grid is second-granular:
      * a non-integral result (`[5m/7]`) is rejected loudly rather than
      * silently truncated to nanos (documented divergence; same policy
      * as the fractional bare-second step rejection). */
    private def parseDurExpr(ctx: String): Long = {
      val v = durAdd()
      if (v.isNaN || v.isInfinite || v != math.rint(v))
        fail(f"$ctx duration expression must fold to whole seconds, got $v%.6f")
      math.rint(v).toLong
    }
    private def durAdd(): Double = {
      var v = durMul()
      var more = true
      while (more) peek match {
        case Some(Sym("+")) => next(); v += durMul()
        case Some(Sym("-")) => next(); v -= durMul()
        case _ => more = false
      }
      v
    }
    private def durMul(): Double = {
      var v = durUnary()
      var more = true
      while (more) peek match {
        case Some(Sym("*")) => next(); v *= durUnary()
        case Some(Sym("/")) => next(); v /= durUnary()
        // Go math.Mod semantics (sign of the dividend) — Scala's `%` on
        // doubles is the same fmod, matching the scalar `%` operator tier
        case Some(Sym("%")) => next(); v %= durUnary()
        case _ => more = false
      }
      v
    }
    private def durUnary(): Double = peek match {
      case Some(Sym("-")) => next(); -durPow()
      case Some(Sym("+")) => next(); durPow()
      case _ => durPow()
    }
    private def durPow(): Double = {
      val b = durAtom()
      peek match {
        // right-assoc: 2^3^2 = 2^9; unary re-enters below ^ so -2^2 = -4
        case Some(Sym("^")) => next(); math.pow(b, durUnary())
        case _ => b
      }
    }
    private def durAtom(): Double = next() match {
      case Dur(s) => s.toDouble
      case Num(n) => n.toDouble // bare number = seconds (the upstream rule)
      case Flt(d) => d
      case Sym("(") => val v = durAdd(); expect(")"); v
      // 3.4 duration functions: `step()` is the query's step (0 on an
      // instant query — a range built only from step() then fails the
      // positive-range check loudly, as upstream errors); min/max fold
      // their folded operands. All still parse-time constants.
      case Ident("step") => expect("("); expect(")"); stepSec.toDouble
      case Ident(f @ ("min" | "max")) =>
        expect("(")
        val a = durAdd(); expect(","); val b = durAdd(); expect(")")
        if (f == "min") math.min(a, b) else math.max(a, b)
      case other => fail(s"expected a duration like 6h, got $other")
    }

    /** A unary expression plus an optional `'[' DUREXPR (':' DUREXPR)? ']'`
      * suffix: `sel[6h]` is a range vector (offset may follow, modifying
      * the selector); `expr[1h:5m]` is a subquery over any expression.
      * Both positions accept duration expressions (`sel[30m * 2]`). */
    def parseUnary(): Ast = {
      val e = parseUnary0()
      peek match {
        case Some(Sym("[")) =>
          next()
          val r = parseDurExpr("range")
          if (r <= 0) fail(s"range must be positive, got ${r}s")
          peek match {
            case Some(Sym(":")) =>
              next()
              // `[1h:]` (empty step) defaults to the engine's 60 s
              // resolution — upstream defaults to the global evaluation
              // interval, which this engine fixes at 1m
              val st = peek match {
                case Some(Sym("]")) => 60L
                case _ =>
                  val v = parseDurExpr("step")
                  if (v <= 0) fail(s"subquery step must be positive, got ${v}s")
                  v
              }
              expect("]")
              parseSubModOpt(Subquery(e, r, st))
            case _ =>
              expect("]")
              e match {
                case sel: Selector =>
                  // extended-range modifier (3.5 experimental): accepted
                  // on either side of offset/@ (upstream's parser treats
                  // it as a selector suffix among the modifiers)
                  val s1 = parseOffsetOpt(sel)
                  peek match {
                    case Some(Ident(m @ ("anchored" | "smoothed"))) =>
                      next()
                      RangeVec(parseOffsetOpt(s1), r, Some(m))
                    case _ => RangeVec(s1, r)
                  }
                case other => fail(s"a [range] suffix needs a plain selector, got $other")
              }
          }
        case _ => e
      }
    }

    private def parseUnary0(): Ast = peek match {
      // unary sign: -5 folds into the literal; -vector multiplies by −1;
      // re-enters at the ^ tier so the sign applies to the WHOLE power
      // (`-2^2` = −4, the Prometheus rule)
      case Some(Sym("-")) =>
        next()
        parsePow() match {
          case ScalarLit(v) => ScalarLit(-v)
          case e => BinOp("*", ScalarLit(-1.0), e, None)
        }
      case Some(Sym("+")) => next(); parsePow()
      case Some(Sym("(")) =>
        next(); val e = parseExpr(); expect(")"); e
      case Some(Num(n)) => next(); ScalarLit(n.toDouble)
      case Some(Flt(d)) => next(); ScalarLit(d)
      case Some(Ident("histogram_quantile")) if !selectorAhead =>
        next(); expect("(")
        val q = next() match {
          case Flt(d) => d
          case Num(n) => n.toDouble
          case other => fail(s"histogram_quantile expects a quantile, got $other")
        }
        expect(",")
        val child = parseExpr()
        expect(")")
        HistQuantile(q, child)
      case Some(Ident(fn @ ("histogram_count" | "histogram_sum" |
                            "histogram_avg" | "histogram_stddev" |
                            "histogram_stdvar"))) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(")")
        HistFn(fn.stripPrefix("histogram_"), child)
      case Some(Ident("histogram_fraction")) if !selectorAhead =>
        next(); expect("(")
        val lo = parseSignedNum("histogram_fraction lower bound")
        expect(",")
        val hi = parseSignedNum("histogram_fraction upper bound")
        expect(",")
        val child = parseExpr()
        expect(")")
        HistFn("fraction", child, Some(lo), Some(hi))
      case Some(Ident(kw @ ("topk" | "bottomk"))) if !selectorAhead =>
        next(); expect("(")
        val k = next() match {
          case Num(n) => n.toInt
          case other => fail(s"$kw expects an integer k, got $other")
        }
        expect(",")
        val child = parseExpr()
        expect(")")
        val by = parseByOpt()
        TopK(k, by.map(_._2).getOrElse(Seq.empty), child,
          bottom = kw == "bottomk")
      case Some(Ident(fn @ ("sort" | "sort_desc"))) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(")")
        SortFn(fn == "sort_desc", child)
      case Some(Ident("info")) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        val dataSel =
          if (peek.contains(Sym(","))) {
            next()
            parseSelector() match {
              case Selector(None, ms, 0L, None) if ms.nonEmpty => ms
              case other => fail(
                s"info() expects a bare {matcher} data-label selector, got $other")
            }
          } else Nil
        expect(")")
        InfoFn(child, dataSel)
      case Some(Ident(fn @ ("sort_by_label" | "sort_by_label_desc")))
        if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        val ls = Seq.newBuilder[String]
        while (peek.contains(Sym(","))) { next(); ls += parseStr() }
        expect(")")
        val labels = ls.result()
        require(labels.nonEmpty, s"$fn needs at least one label argument")
        SortFn(fn.endsWith("_desc"), child, labels)
      case Some(Ident("limitk")) if !selectorAhead =>
        next(); expect("(")
        val k = next() match {
          case Num(n) => n.toInt
          case other => fail(s"limitk expects an integer k, got $other")
        }
        expect(",")
        val child = parseExpr()
        expect(")")
        val by = parseByOpt()
        require(!by.exists(_._1), "limitk supports by(), not without()")
        LimitK(k, by.map(_._2).getOrElse(Seq.empty), child)
      case Some(Ident("limit_ratio")) if !selectorAhead =>
        next(); expect("(")
        val r = next() match {
          case Num(n) => n.toDouble
          case Flt(d) => d
          case Sym("-") => next() match {
            case Num(n) => -n.toDouble
            case Flt(d) => -d
            case other => fail(s"limit_ratio expects a ratio, got -$other")
          }
          case other => fail(s"limit_ratio expects a ratio in [-1,1], got $other")
        }
        require(r >= -1.0 && r <= 1.0, s"limit_ratio ratio must be in [-1,1], got $r")
        expect(",")
        val child = parseExpr()
        expect(")")
        val by = parseByOpt()
        require(!by.exists(_._1), "limit_ratio supports by(), not without()")
        LimitRatio(r, child)
      case Some(Ident("scalar")) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(")")
        ScalarFn(child)
      case Some(Ident("vector")) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(")")
        VectorFn(child)
      case Some(Ident(fn)) if timeCompFns(fn) && !selectorAhead =>
        next(); expect("(")
        val child = peek match {
          case Some(Sym(")")) => None
          case _ => Some(parseExpr())
        }
        expect(")")
        TimeComp(fn, child)
      // pi() is a SCALAR in PromQL — fold to a literal at parse
      case Some(Ident("pi"))
        if toks.drop(1).headOption.contains(Sym("(")) &&
           toks.drop(2).headOption.contains(Sym(")")) =>
        next(); next(); next(); ScalarLit(math.Pi)
      // double_exponential_smoothing is Prometheus's current name for
      // holt_winters — one AST node, either spelling
      case Some(Ident("holt_winters" | "double_exponential_smoothing"))
        if !selectorAhead =>
        next(); expect("(")
        val arg = parseUnary()
        expect(",")
        val sf = parseNum()
        expect(",")
        val tf = parseNum()
        expect(")")
        require(sf > 0 && sf < 1 && tf > 0 && tf < 1,
          s"holt_winters smoothing/trend factors must be in (0, 1); got $sf, $tf")
        arg match {
          case RangeVec(sel, w, None) => RangeFn("holt_winters", sel, w, Some(sf), Some(tf))
          case RangeVec(_, _, Some(m)) =>
            fail(s"'$m' range modifier is not allowed with holt_winters")
          case other => fail(s"holt_winters expects a range vector, got $other")
        }
      case Some(Ident("quantile_over_time")) if !selectorAhead =>
        next(); expect("(")
        val phi = parseNum()
        expect(",")
        val arg = parseUnary()
        expect(")")
        rangeArg("quantile_over_time", arg, Some(phi))
      case Some(Ident("predict_linear")) if !selectorAhead =>
        next(); expect("(")
        val arg = parseUnary()
        expect(",")
        val horizon = parseNum()
        expect(")")
        rangeArg("predict_linear", arg, Some(horizon))
      case Some(Ident(fn)) if vecFns1(fn) && !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(")")
        VecFn(fn, child)
      case Some(Ident("round")) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        val to = peek match {
          case Some(Sym(",")) => next(); Seq(parseNum())
          case _ => Nil
        }
        expect(")")
        VecFn("round", child, to)
      case Some(Ident(fn @ ("clamp" | "clamp_min" | "clamp_max"))) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(",")
        val a = parseNum()
        val b = if (fn == "clamp") { expect(","); Seq(parseNum()) } else Nil
        expect(")")
        VecFn(fn, child, a +: b)
      case Some(Ident("time"))
        if toks.drop(1).headOption.contains(Sym("(")) &&
           toks.drop(2).headOption.contains(Sym(")")) =>
        next(); next(); next(); TimeFn
      case Some(Ident("label_replace")) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(","); val dst = parseStr()
        expect(","); val repl = parseStr()
        expect(","); val srcLabel = parseStr()
        expect(","); val regex = parseStr()
        expect(")")
        LabelFn("label_replace", child, dst, repl, Seq(srcLabel), regex)
      case Some(Ident("label_join")) if !selectorAhead =>
        next(); expect("(")
        val child = parseExpr()
        expect(","); val dst = parseStr()
        expect(","); val sep = parseStr()
        val srcs = Seq.newBuilder[String]
        while (peek.contains(Sym(","))) { next(); srcs += parseStr() }
        expect(")")
        LabelFn("label_join", child, dst, sep, srcs.result())
      case Some(Ident("quantile")) if !selectorAhead =>
        next()
        val byBefore = parseByOpt()
        expect("(")
        val phi = next() match {
          case Flt(d) => d
          case Num(n) => n.toDouble
          case other => fail(s"quantile expects a quantile φ, got $other")
        }
        expect(",")
        val child = parseExpr()
        expect(")")
        val by = byBefore.orElse(parseByOpt())
        AggQuantile(phi, by.map(_._2).getOrElse(Seq.empty), child,
          without = by.exists(_._1))
      case Some(Ident("absent")) if !selectorAhead =>
        next(); expect("(")
        val sel = parseOffsetOpt(parseSelector())
        expect(")")
        Absent(sel)
      case Some(Ident("timestamp")) if !selectorAhead =>
        next(); expect("(")
        val sel = parseOffsetOpt(parseSelector())
        expect(")")
        TimestampFn(sel)
      case Some(Ident("count_values")) if !selectorAhead =>
        next()
        val byBefore = parseByOpt()
        expect("(")
        val label = parseStr()
        expect(",")
        val child = parseExpr()
        expect(")")
        val by = byBefore.orElse(parseByOpt())
        CountValues(label, by.map(_._2).getOrElse(Seq.empty), child,
          without = by.exists(_._1))
      case Some(Ident(fn)) if aggFns(fn) && !selectorAhead =>
        next()
        val byBefore = parseByOpt()
        expect("(")
        val child = parseExpr()
        expect(")")
        val byAfter = parseByOpt()
        val by = byBefore.orElse(byAfter)
        AggBy(fn, by.map(_._2).getOrElse(Seq.empty), child,
          without = by.exists(_._1))
      case Some(Ident(fn)) if rangeFns(fn) && !selectorAhead =>
        next(); expect("(")
        val arg = parseUnary()
        expect(")")
        rangeArg(fn, arg, None)
      case _ => parseOffsetOpt(parseSelector())
    }

    /** Selector modifiers, in either order: `offset <dur>` shifts the
      * evaluation window into the past — `offset -<dur>` (Prometheus
      * ≥2.26, the Grafana timeshift-comparison form) into the FUTURE
      * relative to the eval instant; `@ <epoch-seconds>` pins the
      * evaluation instant (offset then applies relative to it, the
      * Prometheus composition rule). */
    /** The signed duration after an `offset` keyword: a plain literal or
      * a parenthesized duration EXPRESSION (3.4 experimental) — the
      * parens keep `foo offset 1h + 2` unambiguous (an un-wrapped `+`
      * after the duration stays a scalar binop on the vector). */
    private def parseOffsetVal(): Long = {
      val sign = peek match {
        case Some(Sym("-")) => next(); -1L
        case Some(Sym("+")) => next(); 1L // upstream accepts an explicit +
        case _ => 1L
      }
      peek match {
        case Some(Sym("(")) =>
          next()
          val s = parseDurExpr("offset")
          expect(")")
          sign * s
        case _ => next() match {
          case Dur(s) => sign * s
          case other => fail(s"offset expects a duration like 1h, got $other")
        }
      }
    }

    /** The pin after an `@`: an epoch timestamp or `start()`/`end()`. */
    private def parseAtVal(): At = next() match {
      case Num(n) => AtTs(n)
      case Flt(d) => AtTs(d.toLong)
      case Ident(kw @ ("start" | "end")) =>
        expect("("); expect(")")
        if (kw == "start") AtStart else AtEnd
      case other =>
        fail(s"@ expects an epoch timestamp or start()/end(), got $other")
    }

    private def parseOffsetOpt(sel: Selector): Selector = peek match {
      case Some(Ident("offset")) =>
        next(); parseOffsetOpt(sel.copy(offsetSec = parseOffsetVal()))
      case Some(Sym("@")) =>
        next(); parseOffsetOpt(sel.copy(at = Some(parseAtVal())))
      case _ => sel
    }

    /** Subquery modifiers, in either order (upstream ≥2.26/2.25 allows
      * both on subqueries): `expr[1h:5m] offset 30m @ 169...` shifts/pins
      * the whole subquery window. */
    private def parseSubModOpt(sq: Subquery): Subquery = peek match {
      case Some(Ident("offset")) =>
        next(); parseSubModOpt(sq.copy(offsetSec = parseOffsetVal()))
      case Some(Sym("@")) =>
        next(); parseSubModOpt(sq.copy(at = Some(parseAtVal())))
      case _ => sq
    }

    /** A function/aggregate keyword can also be a metric NAME (`sum{...}`
      * and `changes{...}` are valid selectors; PromQL reserves nothing) —
      * treat it as a function only when NOT followed by '{' (matcher
      * list), '[' (range/subquery suffix), or end-of-input. */
    private def selectorAhead: Boolean = toks match {
      case _ :: Sym("{") :: _ => true
      case _ :: Sym("[") :: _ => true
      case _ :: Nil => true
      case _ => false
    }

    /** `by (l, ...)` / `without (l, ...)` grouping clause; the Boolean is
      * true for `without`. */
    def parseByOpt(): Option[(Boolean, Seq[String])] = peek match {
      case Some(Ident(kw @ ("by" | "without"))) =>
        next()
        Some((kw == "without", parseLabelList()))
      case _ => None
    }

    def parseSelector(): Selector = {
      val metric0 = peek match {
        case Some(Ident(m)) => next(); Some(m)
        case _ => None
      }
      var quotedMetric = Option.empty[String]
      val matchers = peek match {
        case Some(Sym("{")) =>
          next()
          val ms = Seq.newBuilder[Matcher]
          var done = peek.contains(Sym("}"))
          if (done) next()
          var first = true
          while (!done) {
            // UTF-8 metric names (Prometheus 3.x): a bare quoted string
            // in FIRST position inside the braces is the metric name —
            // `{"my.metric"}` / `{"my.metric", label="x"}` — told apart
            // from a quoted LABEL name by the absence of a matcher op.
            val labelTok = next()
            if (first && labelTok.isInstanceOf[Str] &&
                !peek.exists { case Sym(o) => Set("=", "!=", "=~", "!~")(o)
                               case _ => false }) {
              require(metric0.isEmpty,
                "metric name given twice (bare and quoted form)")
              quotedMetric = Some(labelTok.asInstanceOf[Str].s)
            } else {
              val label = labelTok match {
                case Ident(l) => l
                case Str(l) => l // quoted (UTF-8) label name, 3.x
                case other => fail(s"expected a label name, got $other")
              }
              val op = next() match {
                case Sym(o) if Set("=", "!=", "=~", "!~")(o) => o
                case other => fail(s"expected a matcher operator, got $other")
              }
              val v = next() match {
                case Str(s) => s
                case other => fail(s"expected a quoted value, got $other")
              }
              ms += Matcher(label, op, v)
            }
            first = false
            next() match {
              case Sym(",") => ()
              case Sym("}") => done = true
              case other => fail(s"expected ',' or '}', got $other")
            }
          }
          ms.result()
        case _ => Seq.empty
      }
      val metric = metric0.orElse(quotedMetric)
      if (metric.isEmpty && matchers.isEmpty) fail("empty selector")
      Selector(metric, matchers)
    }
  }

  /** Whether `query` is a pure-scalar expression — the upstream "scalar"
    * result type on `/api/v1/query` (range queries wrap scalars into an
    * unlabeled matrix series, which the grid path already does). */
  def isScalarQuery(query: String): Boolean =
    pureScalarCol(parse(query), lit(0.0)).isDefined

  /** `stepSec` feeds the 3.4 `step()` duration function — the query step
    * for a range query, 0 for an instant query (the upstream values). */
  def parse(query: String, stepSec: Long = 0L): Ast = {
    val p = new P(lex(query), query, stepSec)
    val ast = p.parseExpr()
    if (p.toks.nonEmpty) p.fail(s"trailing tokens ${p.toks}")
    ast
  }

  // ---------- Compiler ----------
  private def decSum(c: Column): Column =
    sum(round(c, 6).cast("decimal(18,6)")).cast("double")

  /** Columns that are never vector labels in a compiled frame. */
  private val nonLabelCols = Set("value", "rank", "__step", "__substep",
    "__scalar", "__mk")

  /** Continuous (interpolating) median of a PRE-SORTED double array —
    * the quantile_cont(0.5) rule both Prometheus and DuckDB use: the
    * middle element for odd n, the midpoint average for even n. Native
    * array expressions, codegen'd; range windows are bounded, so the
    * per-group array is small by construction. */
  private def medianOfSorted(a: Column): Column = {
    val n = size(a)
    val half = (n.cast("int") / 2).cast("int") // integer index, not double
    when(n % 2 === 1, element_at(a, half + 1))
      .otherwise((element_at(a, half) + element_at(a, half + 1)) / 2.0)
  }

  /** The `*_over_time` fold shared by grid range functions and subquery
    * evaluation (instant + grid): one grouped aggregation; `lastOrd`
    * supplies the ordering for `last_over_time`, `tsSec` each sample's
    * epoch-seconds timestamp for the `ts_of_*` family (subquery samples
    * sit at their grid points). Tie rule for ts_of_max/min — pinned,
    * since upstream's is unspecified: equal values resolve to the
    * LATEST timestamp for max and the EARLIEST for min (the natural
    * lexicographic struct fold; deterministic, hence oracle-able). */
  private def overTimeAgg(grouped: org.apache.spark.sql.RelationalGroupedDataset,
                          fn: String, v: Column, param: Option[Double],
                          lastOrd: Column, tsSec: Column): DataFrame = fn match {
    case "mad_over_time" =>
      // median(|v − median(v)|): one collect per group (bounded by the
      // range window), medians via interpolating array picks
      grouped.agg(array_sort(collect_list(v)).as("__arr"))
        .withColumn("__med", medianOfSorted(col("__arr")))
        .withColumn("value", medianOfSorted(array_sort(
          transform(col("__arr"), x => abs(x - col("__med"))))))
        .drop("__arr", "__med")
    case "ts_of_max_over_time" =>
      grouped.agg(max(struct(v.as("v"), tsSec.as("t"))).as("__m"))
        .withColumn("value", col("__m")("t")).drop("__m")
    case "ts_of_min_over_time" =>
      grouped.agg(min(struct(v.as("v"), tsSec.as("t"))).as("__m"))
        .withColumn("value", col("__m")("t")).drop("__m")
    case "ts_of_last_over_time" =>
      grouped.agg(max(tsSec).as("value"))
    case "sum_over_time"     => grouped.agg(decSum(v).as("value"))
    case "count_over_time"   => grouped.agg(count(lit(1)).cast("double").as("value"))
    case "avg_over_time"     => grouped.agg((decSum(v) / count(lit(1))).as("value"))
    case "max_over_time"     => grouped.agg(max(v).as("value"))
    case "min_over_time"     => grouped.agg(min(v).as("value"))
    case "last_over_time"    => grouped.agg(max_by(v, lastOrd).as("value"))
    case "present_over_time" => grouped.agg(max(lit(1.0)).as("value"))
    case "stddev_over_time"  => grouped.agg(stddev_pop(v).as("value"))
    case "stdvar_over_time"  => grouped.agg(var_pop(v).as("value"))
    case "quantile_over_time" => grouped.agg(percentile(v, lit(param.get)).as("value"))
    case other => throw new IllegalArgumentException(
      s"$other is not a *_over_time fold")
  }

  /** `count_values` shared by both compilers: project the sample value
    * into a STRING label through an EXPLICIT engine-independent rule —
    * fixed-point 6-dp decimal with trailing zeros (and a bare point)
    * trimmed — so the label never depends on an engine's default
    * double→string choice (Java switches to scientific notation at 1e7,
    * DuckDB elsewhere). |v| ≥ 1e15 (beyond the decimal width) and NaN/Inf
    * fall back to the double's own string form; CaseWhen's lazy branches
    * keep ANSI decimal overflow unreachable. Then count per
    * (group ∪ label). `gridKey` threads `__step`. */
  private def countValuesAgg(vec: DataFrame, label: String, by: Seq[String],
                             without: Boolean, gridKey: Seq[String]): DataFrame = {
    val groupBy =
      (if (without) vec.columns.filterNot(c => nonLabelCols(c) || by.contains(c)).toSeq
       else by) ++ gridKey
    require(!groupBy.contains(label) && label != "value",
      s"count_values label '$label' collides with a grouping column")
    val v = col("value")
    val fixed = regexp_replace(regexp_replace(
      v.cast("decimal(27,6)").cast("string"), "(\\.\\d*?)0+$", "$1"), "\\.$", "")
    vec.withColumn(label, when(abs(v) < 1e15, fixed).otherwise(v.cast("string")))
      .groupBy((groupBy :+ label).map(col): _*)
      .agg(count(lit(1)).cast("double").as("value"))
  }

  private val overTimeFns = Set("sum_over_time", "count_over_time",
    "avg_over_time", "max_over_time", "min_over_time", "last_over_time",
    "present_over_time", "stddev_over_time", "stdvar_over_time",
    "quantile_over_time", "mad_over_time", "ts_of_max_over_time",
    "ts_of_min_over_time", "ts_of_last_over_time")

  /** Shift an eval-time literal back by a selector's `offset` — constant
    * arithmetic on the driver (timestamps are wall-clock strings in the
    * session's UTC zone, so LocalDateTime math is exact). */
  private def shiftTs(evalTs: String, offsetSec: Long): String =
    if (offsetSec == 0L) evalTs
    else java.time.LocalDateTime.parse(evalTs.replace(' ', 'T'))
      .minusSeconds(offsetSec)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Smallest multiple of `stepUs` that is ≥ `tUs` (floorDiv handles
    * pre-epoch instants) — the upstream subquery grid-start rule. */
  private def alignUp(tUs: Long, stepUs: Long): Long = {
    val a = Math.floorDiv(tUs, stepUs) * stepUs
    if (a < tUs) a + stepUs else a
  }

  /** Plain `yyyy-MM-dd HH:mm:ss` (session UTC) → epoch micros. */
  private def usOf(ts: String): Long =
    java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L

  /** Epoch seconds → plain `yyyy-MM-dd HH:mm:ss` (UTC). */
  private def tsOfEpoch(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** A selector's effective evaluation instant: `@` pins it (replacing the
    * query's own), then `offset` shifts relative to that — the Prometheus
    * composition rule. For an INSTANT query `start()` and `end()` both
    * equal the evaluation instant (the Prometheus rule for point
    * queries); the grid compiler resolves them to the range edges. */
  private def evalInstantFor(sel: Selector, evalTs: String): String = {
    val pinned = sel.at match {
      case Some(AtTs(s)) => tsOfEpoch(s)
      case _ => evalTs // AtStart/AtEnd = the instant itself; None = unpinned
    }
    shiftTs(pinned, sel.offsetSec)
  }

  /** A subquery's effective end instant: `@` pins, then `offset` shifts —
    * the same pin-first-then-shift composition selectors use. */
  private def subEvalTs(sub: Subquery, evalTs: String): String = {
    val pinned = sub.at match {
      case Some(AtTs(s)) => tsOfEpoch(s)
      case _ => evalTs
    }
    shiftTs(pinned, sub.offsetSec)
  }

  /** Arithmetic value projection ONLY — comparisons and set operators are
    * join/filter shapes, not value maps, and route through [[binOpVec]] /
    * [[binOpScalar]]; anything else here is a compiler bug, so fail loud. */
  private def binApply(op: String, a: Column, b: Column): Column = op match {
    case "+" => a + b
    case "-" => a - b
    case "*" => a * b
    case "/" =>
      // IEEE-754 semantics, the Prometheus contract: x/0 is ±Inf, 0/0 is
      // NaN. Spark's ANSI mode (default in 4.x) would raise instead, so
      // the zero-divisor branches are made explicit; the guarded division
      // only evaluates when b ≠ 0 (CaseWhen branches are lazy).
      when(b === 0.0,
        when(a > 0, lit(Double.PositiveInfinity))
          .when(a < 0, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN)))
        .otherwise(a / b)
    case "%" =>
      // Go math.Mod semantics (the Prometheus contract): sign of the
      // dividend, x % 0 is NaN. Spark's double % is the same fmod, but
      // ANSI mode raises on a zero divisor — guard it explicitly.
      when(b === 0.0, lit(Double.NaN)).otherwise(a % b)
    case "^" => pow(a, b)
    case "atan2" => atan2(a, b)
    case other => throw new IllegalArgumentException(
      s"binApply handles arithmetic only; got '$other'")
  }

  private val cmpOps = Set("==", "!=", ">", "<", ">=", "<=")
  private val setOps = Set("and", "or", "unless")

  /** Map-side scalar function over a vector's `value` column. */
  private def vecFnApply(fn: String, v: Column, args: Seq[Double]): Column = fn match {
    case "abs"   => abs(v)
    case "ceil"  => ceil(v).cast("double")
    case "floor" => floor(v).cast("double")
    case "sqrt"  => sqrt(v)
    case "exp"   => exp(v)
    case "ln"    => log(v)
    case "log2"  => log2(v)
    case "log10" => log10(v)
    case "sgn"   => signum(v)
    case "acos"  => acos(v)
    case "acosh" => acosh(v)
    case "asin"  => asin(v)
    case "asinh" => asinh(v)
    case "atan"  => atan(v)
    case "atanh" => atanh(v)
    case "cos"   => cos(v)
    case "cosh"  => cosh(v)
    case "sin"   => sin(v)
    case "sinh"  => sinh(v)
    case "tan"   => tan(v)
    case "tanh"  => tanh(v)
    case "deg"   => degrees(v)
    case "rad"   => radians(v)
    case "round" =>
      // PromQL round(v, to=1): nearest multiple of `to`, ties round UP
      val to = args.headOption.getOrElse(1.0)
      require(to != 0.0, "round(v, to): to must be non-zero")
      floor(v / to + 0.5).cast("double") * to
    case "clamp" =>
      // min > max yields NaN (the Prometheus rule), decided at compile
      // since both bounds are literals
      if (args(0) > args(1)) lit(Double.NaN)
      else least(greatest(v, lit(args(0))), lit(args(1)))
    case "clamp_min" => greatest(v, lit(args(0)))
    case "clamp_max" => least(v, lit(args(0)))
  }

  /** `label_replace` (set `dst` from `src` captures iff the ANCHORED regex
    * matches the whole src value — the Prometheus rule — else keep any
    * existing dst) / `label_join` (dst = srcs joined on the separator).
    * Missing labels read as "", as in Prometheus. */
  private def labelFnApply(df: DataFrame, lf: LabelFn): DataFrame = lf.fn match {
    case "label_replace" =>
      val anchored = s"^(?:${lf.regex})$$"
      def strOf(c: String): Column =
        if (df.columns.contains(c)) coalesce(col(c).cast("string"), lit("")) else lit("")
      val existing =
        if (df.columns.contains(lf.dst)) col(lf.dst).cast("string")
        else lit(null).cast("string")
      val src = strOf(lf.srcs.head)
      df.withColumn(lf.dst,
        when(src.rlike(anchored), regexp_replace(src, anchored, lf.sepOrRepl))
          .otherwise(existing))
    case "label_join" =>
      val parts = lf.srcs.map(c =>
        if (df.columns.contains(c)) coalesce(col(c).cast("string"), lit(""))
        else lit(""))
      df.withColumn(lf.dst, concat_ws(lf.sepOrRepl, parts: _*))
  }

  /** Least-squares slope/prediction over a range window from EXACT sums:
    * x (micros before the evaluation instant) and y (6-dp-rounded value)
    * accumulate as decimals — order-insensitive — and the final slope/
    * intercept arithmetic is one fixed double expression, so both engines
    * compute the identical result. `horizonSec` = NaN → deriv (slope/sec);
    * otherwise predict_linear's value at T + horizon. Series with <2
    * samples drop out (no line), the Prometheus rule.
    *
    * DECIMAL(14,0) bounds the range window at ~3 years of micros — far
    * past any real deriv window — and keeps every product (x·x → 29
    * digits, x·y → 33) inside both engines' 38-digit decimal ceiling. */
  private def linearFit(samples: DataFrame, keyCols: Seq[Column],
                        xUs: Column, y: Column, horizonSec: Double): DataFrame = {
    val xd = xUs.cast("decimal(14,0)")
    val yd = round(y, 6).cast("decimal(18,6)")
    val agg = samples.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__n"),
        sum(xd).cast("double").as("__sx"),
        sum(yd).cast("double").as("__sy"),
        sum(xd * yd).cast("double").as("__sxy"),
        sum(xd * xd).cast("double").as("__sxx"))
      .filter(col("__n") >= 2)
    val n = col("__n").cast("double")
    val slopeUs = (n * col("__sxy") - col("__sx") * col("__sy")) /
      (n * col("__sxx") - col("__sx") * col("__sx"))
    val value =
      if (horizonSec.isNaN) slopeUs * 1e6
      else (col("__sy") - slopeUs * col("__sx")) / n + slopeUs * (horizonSec * 1e6)
    agg.select(keyCols :+ value.as("value"): _*)
  }

  /** `holt_winters(v[w], sf, tf)` — Holt's double exponential smoothing
    * over the window's samples in time order (the Prometheus recursion:
    * s_i = sf·y_i + (1−sf)·(s_{i−1} + b_i), b_i = tf·(s_{i−1} − s_{i−2})
    * + (1−tf)·b_{i−1}, seeded s_1 = y_0, b_1 = y_1 − y_0; the window's
    * last smoothed value is the result). The recursion is ORDER-SENSITIVE,
    * so it cannot ride the commutative-aggregate path every other fold
    * uses: the samples are assembled into ONE sorted array per series
    * (bounded by the range window — the E22 assembled-window shape) and
    * folded left-to-right with `aggregate()`. The fold body is a fixed
    * sequence of IEEE-double operations, so any engine folding the same
    * values in the same order computes the bit-identical result — the
    * oracle twin folds the same sorted list with DuckDB's `list_reduce`.
    * Series with <2 samples drop out, the Prometheus rule. */
  private def holtWinters(grouped: org.apache.spark.sql.RelationalGroupedDataset,
                          src: PromSource, sf: Double, tf: Double): DataFrame = {
    // smoothing constants precomputed once (identical literals on the
    // oracle side), CAST to DOUBLE so Spark doesn't type them DECIMAL
    val (a, oa, t, ot) = (s"CAST($sf AS DOUBLE)", s"CAST(${1.0 - sf} AS DOUBLE)",
      s"CAST($tf AS DOUBLE)", s"CAST(${1.0 - tf} AS DOUBLE)")
    val trend = s"CASE WHEN acc.n = 1 THEN y - acc.s1 " +
      s"ELSE $t * (acc.s1 - acc.s0) + $ot * acc.b END"
    val fold =
      s"""aggregate(
         |  slice(__vals, 2, size(__vals) - 1),
         |  named_struct('s0', CAST(0.0 AS DOUBLE), 's1', element_at(__vals, 1),
         |               'b', CAST(0.0 AS DOUBLE), 'n', 1),
         |  (acc, y) -> named_struct(
         |    's0', acc.s1,
         |    's1', $a * y + $oa * (acc.s1 + ($trend)),
         |    'b', $trend,
         |    'n', acc.n + 1),
         |  acc -> acc.s1)""".stripMargin
    grouped.agg(array_sort(collect_list(struct(
        col(src.tsCol).as("t"), col(src.orderCol).as("o"),
        col(src.valueCol).as("v")))).as("__s"))
      .filter(size(col("__s")) >= 2)
      .withColumn("__vals", expr("transform(__s, e -> e.v)"))
      .withColumn("value", expr(fold))
      .drop("__s", "__vals")
  }

  /** The Column a pure-scalar expression denotes against `timeCol` (the
    * evaluation instant — the per-step instant on the grid), or None if
    * any part is vector-typed. Backs the upstream "scalar" result type
    * for top-level queries (`time()`, `pi()`, `time() % 3600`) and lets
    * nested scalar arithmetic (`cpu + time()*2`) ride the ordinary
    * scalar-operand path. Scalar–scalar comparisons require `bool`
    * (the Prometheus rule) and yield 1.0/0.0. */
  private def pureScalarCol(ast: Ast, timeCol: Column): Option[Column] = ast match {
    case ScalarLit(v) => Some(lit(v))
    case TimeFn => Some(timeCol)
    case BinOp(op, l, r, _, _, boolMode) =>
      (pureScalarCol(l, timeCol), pureScalarCol(r, timeCol)) match {
        case (Some(a), Some(b)) =>
          if (cmpOps(op)) {
            if (!boolMode) throw new IllegalArgumentException(
              "comparisons between scalars must use BOOL modifier")
            Some(when(cmpPred(op, a, b), 1.0).otherwise(0.0))
          } else if (setOps(op)) throw new IllegalArgumentException(
            s"set operator '$op' is not defined between scalars")
          else Some(binApply(op, a, b))
        case _ => None
      }
    case _ => None
  }

  private def cmpPred(op: String, a: Column, b: Column): Column = op match {
    case "==" => a === b
    case "!=" => a =!= b
    case ">"  => a > b
    case "<"  => a < b
    case ">=" => a >= b
    case "<=" => a <= b
  }

  /** Scalar–vector binary operator. Arithmetic projects map-side.
    * Comparisons FILTER the vector keeping the VECTOR's sample value no
    * matter which side the scalar is on (`5 > x` keeps x's value — the
    * Prometheus filter rule); under `bool` every sample stays and the
    * value becomes 1.0/0.0. Set operators have no scalar form. */
  private def binOpScalar(op: String, vec: DataFrame, scalar: Column,
                          scalarOnLeft: Boolean, boolMode: Boolean): DataFrame = {
    val v = col("value")
    val (a, b) = if (scalarOnLeft) (scalar, v) else (v, scalar)
    if (cmpOps(op)) {
      val pred = cmpPred(op, a, b)
      if (boolMode) vec.withColumn("value", when(pred, 1.0).otherwise(0.0))
      else vec.filter(pred)
    } else if (setOps(op)) throw new IllegalArgumentException(
      s"set operator '$op' is not defined between a scalar and a vector")
    else vec.withColumn("value", binApply(op, a, b))
  }

  /** Vector–vector binary operator: one series-keyed equi-join (or
    * semi/anti/union for set ops) on the matching labels — both sides
    * shuffle on the same key, so at 10M series this stays one partitioned
    * exchange regardless of operator. `gridKey` threads the `__step`
    * column through every join for `query_range` evaluation.
    *
    * Cardinality: without `group_left`/`group_right` the result keeps the
    * lhs label set (one-to-one matching, the author's contract as in
    * Prometheus); with it, the MANY side's labels plus the listed
    * copy-labels taken from the one side — the rollouts canary shape
    * (per-hash_id series over a namespace-level aggregate,
    * `reference/CHANGELOG.md:499,481`). Comparisons filter (keep the lhs
    * sample iff the predicate holds — the static-threshold output stage,
    * `reference/CHANGELOG.md:369,421`) unless `bool`, which keeps every
    * matched pair and projects 1.0/0.0. */
  private def binOpVec(op: String, lv: DataFrame, rv: DataFrame,
                       matching: Option[(Boolean, Seq[String])],
                       group: Option[Grp], boolMode: Boolean,
                       gridKey: Seq[String]): DataFrame = {
    val lLabels = lv.columns.filterNot(nonLabelCols).toSeq
    val rLabels = rv.columns.filterNot(nonLabelCols).toSeq

    // value-bearing comparison/arithmetic after the join: `lval op rval`
    // is always lhs-op-rhs regardless of which side the join kept.
    def finish(j: DataFrame, lval: Column, rval: Column, tmp: String): DataFrame =
      if (cmpOps(op)) {
        if (boolMode)
          j.withColumn("value", when(cmpPred(op, lval, rval), 1.0).otherwise(0.0)).drop(tmp)
        else j.filter(cmpPred(op, lval, rval)).withColumn("value", lval).drop(tmp)
      } else j.withColumn("value", binApply(op, lval, rval)).drop(tmp)

    if (setOps(op)) {
      // Prometheus matches set operators on the COMPLETE label sets, not
      // the shared columns: the default key is the UNION of both sides'
      // label columns, a label a side lacks reading as "" — so series
      // that differ only in a label one side carries do NOT match (the
      // old intersection matching over-matched exactly there). on() /
      // ignoring() narrow the set as usual; an empty key set (`on()`)
      // matches everything. The key is computed map-side and the rhs is
      // projected to it before the exchange, so only keys ship;
      // semi/anti dedup the rhs for free.
      val mls = matching match {
        case Some((true, ls))  => ls
        case Some((false, ls)) => (lLabels ++ rLabels).distinct.filterNot(ls.contains)
        case None              => (lLabels ++ rLabels).distinct
      }
      def keyed(df: DataFrame): DataFrame = df.withColumn("__mk",
        if (mls.isEmpty) lit(1)
        else struct(mls.map(l => (if (df.columns.contains(l))
          coalesce(col(l).cast("string"), lit("")) else lit("")).as(l)): _*))
      val keys = "__mk" +: gridKey
      op match {
        case "and" =>
          keyed(lv).join(keyed(rv).select(keys.map(col): _*), keys, "left_semi")
            .drop("__mk")
        case "unless" =>
          keyed(lv).join(keyed(rv).select(keys.map(col): _*), keys, "left_anti")
            .drop("__mk")
        case "or" =>
          // lhs samples, plus rhs samples whose match key has no lhs
          // sample. A DataFrame needs one schema, so labels the other
          // side lacks fill with NULL (Prometheus leaves the label unset).
          val rOnly = keyed(rv)
            .join(keyed(lv).select(keys.map(col): _*), keys, "left_anti")
            .drop("__mk")
          lv.unionByName(rOnly, allowMissingColumns = true)
      }
    } else {
      val keys0 = matchKeys(lLabels, rLabels, matching)
      val keys = keys0 ++ gridKey
      group match {
        case None =>
          val r2 = rv.select(keys.map(col) :+ col("value").as("__rv"): _*)
          val l2 = lv.select((lLabels ++ gridKey).map(col) :+ col("value"): _*)
          // Two no-label vectors (`vector(0) + hour()`) match one-to-one
          // on the empty key set: a broadcast cross join — Prometheus
          // semantics make the rhs one element, so the broadcast side is
          // constant-sized by the author's contract.
          val j = if (keys.isEmpty) l2.crossJoin(broadcast(r2))
                  else l2.join(r2, keys, "inner")
          finish(j, col("value"), col("__rv"), "__rv")
        case Some(Grp(true, copy)) => // group_left: lhs is the MANY side
          require(keys0.nonEmpty,
            s"group_left needs matching labels (lhs=$lLabels rhs=$rLabels)")
          require(copy.forall(c => !lLabels.contains(c) && rLabels.contains(c)),
            s"group_left copy labels $copy must exist on the rhs and not collide with lhs labels $lLabels")
          val r2 = rv.select((keys ++ copy).distinct.map(col) :+ col("value").as("__rv"): _*)
          finish(lv.select((lLabels ++ gridKey).map(col) :+ col("value"): _*)
            .join(r2, keys, "inner"), col("value"), col("__rv"), "__rv")
        case Some(Grp(false, copy)) => // group_right: rhs is the MANY side
          require(keys0.nonEmpty,
            s"group_right needs matching labels (lhs=$lLabels rhs=$rLabels)")
          require(copy.forall(c => !rLabels.contains(c) && lLabels.contains(c)),
            s"group_right copy labels $copy must exist on the lhs and not collide with rhs labels $rLabels")
          val l2 = lv.select((keys ++ copy).distinct.map(col) :+ col("value").as("__lv"): _*)
          finish(rv.select((rLabels ++ gridKey).map(col) :+ col("value"): _*)
            .join(l2, keys, "inner"), col("__lv"), col("value"), "__lv")
      }
    }
  }

  /** `limitk(k, v)`: the lexical first k series per (group ∪ grid cell),
    * ordered by the full non-group label tuple — one windowed
    * row_number, the same shuffle shape as topk. */
  private def limitKFrame(vec: DataFrame, k: Int, by: Seq[String],
                          gridKey: Seq[String]): DataFrame = {
    val ord0 = vec.columns.filterNot(c => nonLabelCols(c) || by.contains(c))
      .toSeq.sorted.map(col(_).asc)
    // all labels grouped → ≤1 series per group; value gives a total order
    val ord = if (ord0.isEmpty) Seq(col("value").asc) else ord0
    val w = Window.partitionBy((by ++ gridKey).map(col): _*).orderBy(ord: _*)
    vec.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** `limit_ratio(r, v)`: a pure map-side filter — NO shuffle, unlike
    * limitk's window (the selection depends only on each row's own
    * labels). The hash fraction is the first 8 md5 hex digits of the
    * canonical sorted `label=value,...` tuple read as a uint32 over 2^32
    * — both engines compute the identical md5, so the kept set is
    * deterministic and oracle-checkable. NULL labels read as "" (unset,
    * the Prometheus view). */
  private def limitRatioFrame(vec: DataFrame, r: Double): DataFrame = {
    val labelCols = vec.columns.filterNot(nonLabelCols).sorted
    val key = concat_ws(",", labelCols.map(c =>
      concat(lit(c + "="), coalesce(col(c).cast("string"), lit("")))): _*)
    val frac = conv(substring(md5(key), 1, 8), 16, 10).cast("double") / 4294967296.0
    if (r >= 0) vec.filter(frac < lit(r)) else vec.filter(frac >= lit(1.0 + r))
  }

  /** `scalar(v)` support: reduce a compiled vector to ONE `__scalar`
    * value per grid cell (globally for an instant query) — the single
    * element's value if the vector has exactly one element, else NaN, the
    * Prometheus rule. The consumer joins this one-row (or one-per-step)
    * frame back broadcast-style; no driver-side collect. */
  private def scalarFrame(vec: DataFrame, gridKey: Seq[String]): DataFrame = {
    val g = if (gridKey.isEmpty) vec.groupBy() else vec.groupBy(gridKey.map(col): _*)
    g.agg(count(lit(1)).as("__n"), max(col("value")).as("__v"))
      .select(gridKey.map(col) :+ when(col("__n") === 1, col("__v"))
        .otherwise(lit(Double.NaN)).as("__scalar"): _*)
  }

  /** Time-component of a value read as epoch seconds (UTC — the session
    * timezone contract). Prometheus numbers Sunday 0 in day_of_week;
    * Spark's dayofweek numbers it 1. */
  private def timeCompCol(fn: String, epochSec: Column): Column = {
    val ts = timestamp_seconds(epochSec)
    (fn match {
      case "minute"        => minute(ts)
      case "hour"          => hour(ts)
      case "day_of_week"   => dayofweek(ts) - 1
      case "day_of_month"  => dayofmonth(ts)
      case "day_of_year"   => dayofyear(ts)
      case "days_in_month" => dayofmonth(last_day(ts.cast("date")))
      case "month"         => month(ts)
      case "year"          => year(ts)
    }).cast("double")
  }

  /** The same components computed driver-side for a no-argument call at a
    * fixed instant (constant folding: the value depends only on T). */
  private def timeCompOf(fn: String, ts: String): Double = {
    val ldt = java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
    (fn match {
      case "minute"        => ldt.getMinute
      case "hour"          => ldt.getHour
      case "day_of_week"   => ldt.getDayOfWeek.getValue % 7 // java Mon=1..Sun=7
      case "day_of_month"  => ldt.getDayOfMonth
      case "day_of_year"   => ldt.getDayOfYear
      case "days_in_month" => ldt.toLocalDate.lengthOfMonth
      case "month"         => ldt.getMonthValue
      case "year"          => ldt.getYear
    }).toDouble
  }

  /** PromQL vector matching for a binary operator: the join key set.
    * Default = all label columns the two sides share; `on(ls)` = exactly
    * `ls`; `ignoring(ls)` = the shared labels minus `ls`. */
  private def matchKeys(lLabels: Seq[String], rLabels: Seq[String],
                        matching: Option[(Boolean, Seq[String])]): Seq[String] =
    matching match {
      case Some((true, ls))  => ls
      case Some((false, ls)) => lLabels.intersect(rLabels).filterNot(ls.contains)
      case None              => lLabels.intersect(rLabels)
    }

  private def matcherCond(src: PromSource, sel: Selector): Column =
    matcherCondFor(src.metricCol, sel)

  /** A label name as a Column reference, dot-safe: quoted (UTF-8, 3.x)
    * label names like `"zone.region"` bind to a COLUMN of that literal
    * name — backtick quoting stops Spark's struct-field dot parsing. */
  private[metrics] def labelCol(name: String): Column = col(s"`$name`")

  /** The literal alternatives of a regex that is a pure `|`-alternation
    * of metacharacter-free strings (upstream FastRegexMatcher's "set
    * matches" optimization), or None when real regex machinery is
    * needed. Empty alternatives are kept — `a|` legitimately matches
    * the empty string. */
  private[metrics] def literalAlternatives(re: String): Option[Seq[String]] = {
    val meta = ".?+*()[]{}^$\\"
    if (re.exists(meta.contains(_))) None
    else Some(re.split("\\|", -1).toSeq)
  }

  private def matcherCondFor(metricCol: String, sel: Selector): Column = {
    val metricCond = sel.metric.map(m => labelCol(metricCol) === lit(m))
    val ms = sel.matchers.map { m =>
      // `{__name__="cpu"}` ≡ `cpu`, and `{__name__=~"cpu|mem"}` is the
      // Grafana multi-metric idiom — the reserved label IS the metric col
      val c = if (m.label == "__name__") labelCol(metricCol) else labelCol(m.label)
      // Literal-alternation fast path: an IN list reaches the parquet
      // scan as a pushed filter (PushedFilters: In(label, [...])) while
      // RLIKE never pushes — at 100 TB that is row-group pruning vs a
      // full scan. NULL semantics match RLIKE's (both yield null →
      // filtered) so the rewrite is observation-equivalent.
      def anchored = s"^(?:${m.value})$$"
      m.op match {
        case "="  => c === lit(m.value)
        case "!=" => c =!= lit(m.value)
        case "=~" => literalAlternatives(m.value) match {
          case Some(alts) => c.cast("string").isin(alts: _*)
          case None => c.cast("string").rlike(anchored)
        }
        case "!~" => literalAlternatives(m.value) match {
          case Some(alts) => !c.cast("string").isin(alts: _*)
          case None => !c.cast("string").rlike(anchored)
        }
      }
    }
    (metricCond.toSeq ++ ms).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Evaluate `query` as an instant query at `evalTs`. Returns a vector
    * frame: label columns + `value` (+ `rank` under topk). */
  def eval(src: PromSource, query: String, evalTs: String,
           lookback: String = "5 MINUTES"): DataFrame = {
    val ast = parse(query)
    // upstream's "scalar" result type: a pure-scalar top-level query
    // returns one unlabeled row rather than an instant vector
    pureScalarCol(ast, lit(usOf(evalTs) / 1000000.0)) match {
      case Some(c) => src.df.sparkSession.range(1).select(c.as("value"))
      case None => compile(src, ast, evalTs, lookback)
    }
  }

  /** The info-row filter and the copied-data-label set an `info()`
    * data-label selector denotes against a binding: a `__name__` matcher
    * maps onto the binding's metric column, data-label matchers filter
    * rows AND narrow the copied set, unknown labels fail loudly. Shared
    * by the instant and grid compile paths. */
  private def infoParts(ib: InfoBinding, dataSel: Seq[Matcher]): (Column, Seq[String]) = {
    val nameSel = dataSel.filter(_.label == "__name__")
    val labelSel = dataSel.filterNot(_.label == "__name__")
    labelSel.find(m => !ib.dataLabels.contains(m.label)).foreach(m =>
      throw new IllegalArgumentException(
        s"info(): '${m.label}' is not a data label of the info binding"))
    val wanted =
      if (labelSel.isEmpty) ib.dataLabels
      else ib.dataLabels.filter(l => labelSel.exists(_.label == l))
    val rowCond = matcherCondFor(ib.metricCol,
      Selector(None, nameSel.map(m => m.copy(label = ib.metricCol)) ++ labelSel))
    (rowCond, wanted)
  }

  /** The filter Column a plain series selector denotes against a frame
    * using `src`'s metric/label columns — the reusable piece of the
    * metadata endpoints (series, exemplars): callers apply it to any
    * frame carrying the same label columns. */
  def selectorCond(src: PromSource, selector: String): Column =
    parse(selector) match {
      case sel: Selector => matcherCond(src, sel)
      case other => throw new IllegalArgumentException(
        s"expected a series selector, got $other")
    }

  /** Parse a plain series selector into matcher triples (label, op,
    * value) for the tombstone/admin path; the bare metric name becomes an
    * equality on `src.metricCol` and `__name__` matchers rebind to it.
    * `!~` is rejected (the tombstone predicate compiler supports `=`,
    * `!=`, `=~` — the upstream delete_series surface). */
  def selectorMatchers(src: PromSource,
                       selector: String): Seq[(String, String, String)] =
    parse(selector) match {
      case sel: Selector =>
        sel.metric.map(m => (src.metricCol, "=", m)).toSeq ++
          sel.matchers.map { m =>
            val label = if (m.label == "__name__") src.metricCol else m.label
            (label, m.op, m.value)
          }
      case other => throw new IllegalArgumentException(
        s"match[] must be a plain series selector, got $other")
    }

  /** The distinct series (label sets) matching ANY of the plain
    * selectors — the `/api/v1/series` metadata contract (upstream returns
    * the union of every match[]). One distinct-aggregation plan. */
  def seriesFor(src: PromSource, selectors: Seq[String]): DataFrame = {
    val cond = selectors.map(parse(_) match {
      case sel: Selector => matcherCond(src, sel)
      case other => throw new IllegalArgumentException(
        s"match[] must be a plain series selector, got $other")
    }).reduce(_ || _)
    src.df.filter(cond)
      .select(src.seriesKey.map(labelCol): _*)
      .distinct().orderBy(src.seriesKey.map(labelCol): _*)
  }

  private def compile(src: PromSource, ast: Ast, evalTs: String,
                      lookback: String): DataFrame = ast match {
    case sel: Selector =>
      PromQl.instantVector(src.df.filter(matcherCond(src, sel)), src.seriesKey,
          src.tsCol, src.orderCol, evalInstantFor(sel, evalTs), lookback)
        .select(src.seriesKey.map(labelCol) :+ col(src.valueCol).as("value"): _*)

    case ExtRange(mode, fn, sel, w) =>
      // extended fetch: one lookback BEHIND the window start (the left
      // anchor) and one lookback AHEAD of the window end (smoothed's
      // right straddle — the extended-selectors design reads the first
      // sample past the boundary when storage has one; at the live head
      // there is none and the right edge falls back to the last
      // in-window sample)
      val endUs = usOf(evalInstantFor(sel, evalTs))
      val startUs = endUs - w * 1000000L
      val t = to_timestamp(lit(evalInstantFor(sel, evalTs)))
      val fetched = src.df.filter(matcherCond(src, sel))
        .filter(col(src.tsCol) <= t + expr(s"INTERVAL $lookback") &&
          col(src.tsCol) > t - expr(s"INTERVAL $w SECONDS") -
            expr(s"INTERVAL $lookback"))
      PromQl.extendedRange(fetched, src.seriesKey, src.tsCol, src.orderCol,
          src.valueCol, startUs, endUs, mode,
          isCounter = fn != "delta", isRate = fn == "rate")
        .select(src.seriesKey.map(labelCol) :+ col("value"): _*)

    case RangeFn(fn, sel, w, param, param2) =>
      val t = to_timestamp(lit(evalInstantFor(sel, evalTs)))
      val inWindow = src.df.filter(matcherCond(src, sel))
        .filter(col(src.tsCol) <= t &&
          col(src.tsCol) > t - expr(s"INTERVAL $w SECONDS"))
      val keyCols = src.seriesKey.map(labelCol)
      val v = col(src.valueCol)
      fn match {
        case "rate" | "increase" =>
          // reset-aware increase over the range window; rate normalizes
          // per second (counterIncrease emits 0 for the window's first
          // sample — Prometheus's no-extrapolation baseline; the exact
          // upstream boundary extrapolation is PromQl.extrapolated,
          // hash-proved by q220)
          val inc = PromQl.counterIncrease(inWindow, src.seriesKey,
            src.tsCol, src.orderCol, src.valueCol)
          val total = decSum(col("inc"))
          inc.groupBy(keyCols: _*)
            .agg((if (fn == "rate") total / w.toDouble else total).as("value"))
        case "delta" =>
          // gauge delta: last − first sample in the window (baseline form,
          // no boundary extrapolation); series order is (ts, orderCol)
          val ord = struct(col(src.tsCol), col(src.orderCol))
          inWindow.groupBy(keyCols: _*)
            .agg((max_by(v, ord) - min_by(v, ord)).as("value"))
        case "irate" | "idelta" =>
          // from the LAST TWO samples: irate is the reset-aware rate (Δt
          // in integer micros then one double division — both engines
          // compute the identical quotient); idelta is the plain last
          // difference (gauge semantics, no reset rule, no division)
          val w2 = Window.partitionBy(keyCols: _*)
            .orderBy(col(src.tsCol).desc, col(src.orderCol).desc)
          val two = inWindow.withColumn("__rn", row_number().over(w2))
            .filter(col("__rn") <= 2)
            .groupBy(keyCols: _*)
            .agg(
              max(when(col("__rn") === 1, v)).as("__v1"),
              max(when(col("__rn") === 2, v)).as("__v2"),
              max(when(col("__rn") === 1, unix_micros(col(src.tsCol)))).as("__t1"),
              max(when(col("__rn") === 2, unix_micros(col(src.tsCol)))).as("__t2"))
            .filter(col("__v2").isNotNull) // a lone sample has no pair
          val value =
            if (fn == "idelta") col("__v1") - col("__v2")
            else when(col("__v1") < col("__v2"), col("__v1"))
              .otherwise(col("__v1") - col("__v2")) /
              ((col("__t1") - col("__t2")) / 1000000.0)
          two.select(keyCols :+ value.as("value"): _*)
        case "resets" =>
          // count of counter resets among the window's samples; a lone
          // sample yields 0 (the sample defines presence), as in
          // Prometheus
          PromQl.counterIncrease(inWindow, src.seriesKey,
              src.tsCol, src.orderCol, src.valueCol)
            .groupBy(keyCols: _*)
            .agg(sum(col("reset")).cast("double").as("value"))
        case "changes" =>
          // count of value CHANGES between consecutive in-window samples
          val wSeries = Window.partitionBy(keyCols: _*)
            .orderBy(col(src.tsCol), col(src.orderCol))
          inWindow.withColumn("__prev", lag(v, 1).over(wSeries))
            .groupBy(keyCols: _*)
            .agg(sum(when(col("__prev").isNotNull && col("__prev") =!= v, 1)
              .otherwise(0)).cast("double").as("value"))
        case "sum_over_time" =>
          inWindow.groupBy(keyCols: _*).agg(decSum(v).as("value"))
        case "count_over_time" =>
          inWindow.groupBy(keyCols: _*)
            .agg(count(lit(1)).cast("double").as("value"))
        case "avg_over_time" =>
          inWindow.groupBy(keyCols: _*)
            .agg((decSum(v) / count(lit(1))).as("value"))
        case "max_over_time" =>
          inWindow.groupBy(keyCols: _*).agg(max(v).as("value"))
        case "min_over_time" =>
          inWindow.groupBy(keyCols: _*).agg(min(v).as("value"))
        case "last_over_time" =>
          inWindow.groupBy(keyCols: _*)
            .agg(max_by(v, struct(col(src.tsCol), col(src.orderCol))).as("value"))
        case "present_over_time" =>
          inWindow.groupBy(keyCols: _*).agg(max(lit(1.0)).as("value"))
        case "stddev_over_time" =>
          inWindow.groupBy(keyCols: _*).agg(stddev_pop(v).as("value"))
        case "stdvar_over_time" =>
          inWindow.groupBy(keyCols: _*).agg(var_pop(v).as("value"))
        case "quantile_over_time" =>
          inWindow.groupBy(keyCols: _*).agg(percentile(v, lit(param.get)).as("value"))
        case "deriv" | "predict_linear" =>
          linearFit(inWindow, keyCols,
            unix_micros(col(src.tsCol)) - unix_micros(t), v,
            if (fn == "deriv") Double.NaN else param.get)
        case f @ ("mad_over_time" | "ts_of_max_over_time"
                | "ts_of_min_over_time" | "ts_of_last_over_time") =>
          overTimeAgg(inWindow.groupBy(keyCols: _*), f, v, param,
            lastOrd = struct(col(src.tsCol), col(src.orderCol)),
            tsSec = unix_micros(col(src.tsCol)).cast("double") / 1000000.0)
        case "absent_over_time" =>
          // one 1.0-sample (labels = equality matchers) iff the selector
          // has NO sample in the window — the same anti-join-probe shape
          // as absent(), presence read from the range window instead of
          // the staleness lookback
          absentFrame(src.df.sparkSession.range(1).toDF(), sel, inWindow,
            extraKey = Nil)
        case "holt_winters" =>
          holtWinters(inWindow.groupBy(keyCols: _*), src, param.get, param2.get)
      }

    case AggBy(fn, by, child, without) =>
      val vec = compile(src, child, evalTs, lookback)
      val groupBy =
        if (without) vec.columns.filterNot(c => nonLabelCols(c) || by.contains(c)).toSeq
        else by
      aggVector(vec, fn, groupBy)

    case TopK(k, by, child, bottom) =>
      val vec = compile(src, child, evalTs, lookback)
      // total order: ties on every non-value label column
      val tieCols = vec.columns.filterNot(c => c == "value" || by.contains(c)).toSeq
      PromQl.topk(vec, k, by, "value", tieCols, asc = bottom)

    case VecFn(fn, child, args) =>
      compile(src, child, evalTs, lookback)
        .withColumn("value", vecFnApply(fn, col("value"), args))

    case lf: LabelFn =>
      labelFnApply(compile(src, lf.child, evalTs, lookback), lf)

    // Subquery under a *_over_time: evaluate the inner expression on the
    // trailing step grid via the SAME GridCompiler query_range uses (one
    // generate-project + keyed shuffles — no per-step loop), then fold the
    // grid samples per series. Inner instant selectors use the Prometheus
    // default 5m lookback, as in Prometheus subqueries.
    //
    // Anchoring — UPSTREAM-ALIGNED (decided round 10, pinned in
    // PromQlParserSpec like rate()): grid points are the ABSOLUTE epoch
    // multiples of step inside [T − range, T] — closed on the left, so
    // when T − range lands on the step grid that boundary point is
    // included (the documented Prometheus "range/step + 1" behavior,
    // promql/engine.go evalSubquery). Earlier rounds anchored at the
    // eval instant; absolute alignment makes repeated evaluations at
    // shifting T reuse the same inner instants, which is also what makes
    // the shared-fine-grid query_range form below coherent.
    case RangeSub(fn, sub, param) =>
      require(sub.stepSec > 0, "subquery step must be positive")
      require(overTimeFns(fn),
        s"$fn over a subquery is not supported; use a *_over_time function")
      val stepUs = sub.stepSec * 1000000L
      val endUs = usOf(subEvalTs(sub, evalTs)) // @ pins, offset shifts
      val rangeUs = sub.rangeSec * 1000000L
      val t0 = alignUp(endUs - rangeUs, stepUs)
      val last = Math.floorDiv(endUs, stepUs) * stepUs
      val nSteps = (last - t0) / stepUs
      // t0 > last (possible when T is unaligned and range < step): no
      // aligned instant falls in the window — empty vector, as upstream
      val g = new GridCompiler(src, if (nSteps < 0) last else t0, stepUs,
        math.max(nSteps, 0L), lookbackUs = 300L * 1000000L)
      val sg0 = g.compile(sub.child)
      val sg = if (nSteps < 0) sg0.filter(lit(false)) else sg0
      val labels = sg.columns.filterNot(nonLabelCols).toSeq
      val grouped =
        if (labels.isEmpty) sg.groupBy()
        else sg.groupBy(labels.map(col): _*)
      overTimeAgg(grouped, fn, col("value"), param, lastOrd = col("__step"),
        tsSec = (lit(t0) + col("__step") * lit(stepUs)).cast("double") / 1000000.0)

    case rv: RangeVec => throw new IllegalArgumentException(
      s"a range vector ($rv) is only valid as a range function's argument")
    case sq: Subquery => throw new IllegalArgumentException(
      s"a subquery ($sq) is only valid under a *_over_time function")

    case AggQuantile(phi, by, child, without) =>
      val vec = compile(src, child, evalTs, lookback)
      val groupBy =
        if (without) vec.columns.filterNot(c => nonLabelCols(c) || by.contains(c)).toSeq
        else by
      aggVector(vec, "quantile", groupBy, phi)

    case Absent(sel) =>
      absentFrame(src.df.sparkSession.range(1).toDF(), sel,
        compile(src, sel, evalTs, lookback), extraKey = Nil)

    case CountValues(label, by, child, without) =>
      countValuesAgg(compile(src, child, evalTs, lookback), label, by,
        without, gridKey = Nil)

    case TimestampFn(sel) =>
      // the newest in-lookback sample's epoch second per series (offset/@
      // shift the window; the reported timestamp stays the sample's own)
      val t = to_timestamp(lit(evalInstantFor(sel, evalTs)))
      src.df.filter(matcherCond(src, sel))
        .filter(col(src.tsCol) <= t && col(src.tsCol) > t - expr(s"INTERVAL $lookback"))
        .groupBy(src.seriesKey.map(labelCol): _*)
        .agg((max(unix_micros(col(src.tsCol))).cast("double") / 1000000.0).as("value"))

    case SortFn(desc, child, byLabels) =>
      // value-ordered (or label-ordered) output; labels break ties →
      // total order; ordering is presentation-only, the row set unchanged
      val vec = compile(src, child, evalTs, lookback)
      val tie = vec.columns.filterNot(c => nonLabelCols(c) || c == "value"
          || byLabels.contains(c)).toSeq.sorted.map(col)
      val lead =
        if (byLabels.isEmpty) Seq(if (desc) col("value").desc else col("value").asc)
        else byLabels.map(l => if (desc) col(l).desc else col(l).asc)
      vec.orderBy(lead ++ tie: _*)

    case LimitK(k, by, child) =>
      limitKFrame(compile(src, child, evalTs, lookback), k, by, gridKey = Nil)

    case LimitRatio(r, child) =>
      limitRatioFrame(compile(src, child, evalTs, lookback), r)

    case sf: ScalarFn =>
      scalarFrame(compile(src, sf.child, evalTs, lookback), Nil)
        .select(col("__scalar").as("value"))

    case VectorFn(child) =>
      val one = src.df.sparkSession.range(1)
      child match {
        case ScalarLit(v) => one.select(lit(v).as("value"))
        case TimeFn => one.select(lit(usOf(evalTs) / 1000000.0).as("value"))
        case s: ScalarFn =>
          scalarFrame(compile(src, s.child, evalTs, lookback), Nil)
            .select(col("__scalar").as("value"))
        case other => throw new IllegalArgumentException(
          s"vector() expects a scalar argument, got $other")
      }

    case TimeComp(fn, None) =>
      src.df.sparkSession.range(1)
        .select(lit(timeCompOf(fn, evalTs)).as("value"))
    case TimeComp(fn, Some(child)) =>
      compile(src, child, evalTs, lookback)
        .withColumn("value", timeCompCol(fn, col("value")))

    case BinOp(op, lhs, rhs, matching, group, boolMode) =>
      def scalarOf(a: Ast): Option[Column] =
        pureScalarCol(a, lit(usOf(evalTs) / 1000000.0))
      (scalarOf(lhs), scalarOf(rhs)) match {
        case (Some(_), Some(_)) =>
          throw new IllegalArgumentException(
            "scalar-only expressions are not instant vectors; fold constants in the query")
        case (Some(a), None) =>
          binOpScalar(op, compile(src, rhs, evalTs, lookback), a,
            scalarOnLeft = true, boolMode)
        case (None, Some(b)) =>
          binOpScalar(op, compile(src, lhs, evalTs, lookback), b,
            scalarOnLeft = false, boolMode)
        // scalar(v) operand: its one-row frame broadcast-joins onto the
        // vector side (no driver-side collect), then the scalar column
        // rides the ordinary scalar path.
        case (None, None) => (lhs, rhs) match {
          case (s: ScalarFn, _) =>
            val joined = compile(src, rhs, evalTs, lookback).crossJoin(
              broadcast(scalarFrame(compile(src, s.child, evalTs, lookback), Nil)))
            binOpScalar(op, joined, col("__scalar"), scalarOnLeft = true,
              boolMode).drop("__scalar")
          case (_, s: ScalarFn) =>
            val joined = compile(src, lhs, evalTs, lookback).crossJoin(
              broadcast(scalarFrame(compile(src, s.child, evalTs, lookback), Nil)))
            binOpScalar(op, joined, col("__scalar"), scalarOnLeft = false,
              boolMode).drop("__scalar")
          case _ =>
            binOpVec(op, compile(src, lhs, evalTs, lookback),
              compile(src, rhs, evalTs, lookback), matching, group, boolMode,
              gridKey = Nil)
        }
      }

    case HistQuantile(q, child) =>
      val vec = compile(src, child, evalTs, lookback)
      if (vec.columns.contains("le")) PromQl.histogramQuantileVector(vec, q)
      else src.hist match {
        // no classic `le` label: the NATIVE-histogram form — resolve the
        // child against the histogram frame and interpolate in-bucket
        case Some(h) =>
          val (hv, _) = histVector(h, child, evalTs, lookback)
          // NHCB-aware: a binding whose frame carries custom_values
          // dispatches per-row on schema (3.x mixed-schema rule)
          val qc = if (hv.columns.contains("custom_values"))
            NativeHistogram.histogramQuantileAuto(q)
          else NativeHistogram.histogramQuantile(q)
          hv.select(h.seriesKey.map(labelCol) :+ qc.as("value"): _*)
        case None => throw new IllegalArgumentException(
          "histogram_quantile needs an 'le'-labeled bucket vector, or a " +
            "native-histogram binding (PromSource.hist) for the native form")
      }

    case HistFn(fn, child, lo, hi) =>
      val h = src.hist.getOrElse(throw new IllegalArgumentException(
        s"histogram_$fn needs a native-histogram binding (PromSource.hist)"))
      val (hv, scale) = histVector(h, child, evalTs, lookback)
      // `rate` scales only the ADDITIVE scalars (count, sum); avg is a
      // quotient of them and the shape statistics (stddev/stdvar/
      // fraction, like quantile) are invariant under uniform bucket
      // scaling — the Prometheus rule.
      val value = fn match {
        case "count"    => col("count") * scale
        case "sum"      => col("sum") * scale
        case "avg"      => NativeHistogram.histogramAvg
        case "stddev"   => NativeHistogram.histogramStddev()
        case "stdvar"   => NativeHistogram.histogramStdvar()
        case "fraction" => NativeHistogram.histogramFraction(lo.get, hi.get)
      }
      hv.select(h.seriesKey.map(labelCol) :+ value.as("value"): _*)

    // info(): one window (newest info sample per identifying key, the
    // same last-sample rule as every instant selector) + one LEFT join
    // keyed by the identifying labels — at 100 TB the info side is
    // entity-sized (one row per identifying key after the window), so
    // AQE broadcasts it; samples with no info row pass through with
    // null data labels rather than dropping (the upstream rule).
    case InfoFn(child, dataSel) =>
      val ib = src.info.getOrElse(throw new IllegalArgumentException(
        "info() needs an info-metric binding (PromSource.info)"))
      val vec = compile(src, child, evalTs, lookback)
      require(ib.identifying.forall(vec.columns.contains),
        s"info(): the child vector must carry the identifying labels ${ib.identifying}")
      val (rowCond, wanted) = infoParts(ib, dataSel)
      val t = to_timestamp(lit(evalTs))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(ib.identifying.map(col): _*)
        .orderBy(col(ib.tsCol).desc, col(ib.orderCol).desc)
      val newest = ib.df
        .filter(col(ib.tsCol) <= t && col(ib.tsCol) > t - expr(s"INTERVAL $lookback"))
        .filter(rowCond)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select((ib.identifying ++ wanted).map(col): _*)
      vec.join(newest, ib.identifying, "left")

    case ScalarLit(_) | TimeFn =>
      throw new IllegalArgumentException(
        "a bare scalar is not an instant vector; use it as a binary-operator operand")
  }

  /** Shared vector-aggregation shape for `by`/`without` grouping (instant
    * and grid compilers): decimal-routed sums, one double division for avg;
    * stddev/stdvar are POPULATION moments (the Prometheus definition);
    * quantile is the linear-interpolation φ-quantile (`phi` is only read
    * for fn = "quantile"). */
  private def aggVector(vec: DataFrame, fn: String, groupBy: Seq[String],
                        phi: Double = Double.NaN): DataFrame = {
    val v = col("value")
    val agg = fn match {
      case "sum"      => decSum(v)
      case "avg"      => decSum(v) / count(lit(1))
      case "min"      => min(v)
      case "max"      => max(v)
      case "count"    => count(lit(1)).cast("double")
      case "stddev"   => stddev_pop(v)
      case "stdvar"   => var_pop(v)
      case "group"    => max(lit(1.0))
      case "quantile" => percentile(v, lit(phi))
    }
    // An ungrouped (global) aggregation over an EMPTY vector must yield
    // an empty vector (the Prometheus rule) — Spark's global agg emits
    // one NULL/0 row instead, so guard on the group's sample count.
    if (groupBy.isEmpty)
      vec.agg(agg.as("value"), count(lit(1)).as("__n"))
        .filter(col("__n") > 0).drop("__n")
    else vec.groupBy(groupBy.map(labelCol): _*).agg(agg.as("value"))
  }

  /** `absent(sel)` over a compiled instant vector: at most one output row
    * (labels = the selector's equality matchers, value 1.0), produced by an
    * anti-join against a one-row probe of the vector — no driver-side
    * emptiness branch, so the plan stays lazy/distributed. `extraCols`
    * threads the grid's step column through (grid absent anti-joins the
    * step domain against the steps that have samples). */
  private def absentFrame(base: DataFrame, sel: Selector,
                          vec: DataFrame, extraKey: Seq[String]): DataFrame = {
    val eqCols = sel.matchers.filter(_.op == "=")
      .map(m => lit(m.value).as(m.label))
    val one = base.select(extraKey.map(col) ++ eqCols :+ lit(1.0).as("value"): _*)
    if (extraKey.isEmpty)
      one.join(vec.limit(1).select(lit(1).as("__probe")), lit(true), "left_anti")
    else
      one.join(vec.select(extraKey.map(col): _*).distinct(), extraKey, "left_anti")
  }

  /** Resolve a native-histogram function's child to a histogram-valued
    * frame (`h.seriesKey` + the [[NativeHistogram]] columns) plus the
    * rate scale factor for the additive scalars.
    *
    *  - a plain selector → the latest cumulative histogram per series at
    *    the evaluation instant (the same instant-vector rule as scalars,
    *    one `row_number` window keyed by the series);
    *  - `rate(sel[w])` / `increase(sel[w])` → consecutive reset-aware
    *    bucket diffs of the in-window scrapes ([[NativeHistogram
    *    .increase]]; the first in-window scrape is the baseline, as
    *    upstream) merged per series — one window + one keyed re-count,
    *    bucket rows only on the shuffle.
    *
    * Both shapes stay keyed by the series, so they scale like every
    * other grid operator. */
  private def histVector(h: HistBinding, child: Ast, evalTs: String,
                         lookback: String): (DataFrame, Column) = child match {
    case sel: Selector =>
      (PromQl.instantVector(h.df.filter(matcherCondFor(h.metricCol, sel)),
        h.seriesKey, h.tsCol, h.orderCol,
        evalInstantFor(sel, evalTs), lookback), lit(1.0))
    case RangeFn(fn @ ("rate" | "increase"), sel, w, _, _) =>
      val t = to_timestamp(lit(evalInstantFor(sel, evalTs)))
      val inWin = h.df.filter(matcherCondFor(h.metricCol, sel))
        .filter(col(h.tsCol) <= t &&
          col(h.tsCol) > t - expr(s"INTERVAL $w SECONDS"))
      val inc = NativeHistogram.increase(inWin, h.seriesKey, h.tsCol)
      (NativeHistogram.merge(inc, h.seriesKey),
        if (fn == "rate") lit(1.0 / w) else lit(1.0))
    case other => throw new IllegalArgumentException(
      "native-histogram functions take a plain selector or rate()/" +
        s"increase() of one, got $other")
  }

  // ---------- query_range: step-grid evaluation ----------

  /** Evaluate `query` on the step grid of a Prometheus `query_range` call:
    * T_i = start + i·step for i in [0, (end−start)/step], each step
    * carrying the same semantics [[eval]] gives a single instant. Output:
    * label columns + `step_ts` (timestamp) + `value` (+ `rank` for topk).
    *
    * Scale shape — NO per-step loop and NO range join: each sample is
    * exploded onto the (bounded) set of grid steps whose evaluation window
    * contains it — at most ⌈window/step⌉ (or ⌈lookback/step⌉) rows per
    * sample — and everything downstream is grouped/joined on
    * (series, step) like any other keyed aggregation. A month-long grid
    * over 10M series is one generate-project plus one shuffle, with the
    * explode factor under the caller's control via `step`. This is the
    * reference fetcher's actual contract — `(query, start, end, step)` →
    * per-step values (`reference/CHANGELOG.md:90`). */
  def evalRange(src: PromSource, query: String, startTs: String, endTs: String,
                stepSec: Long, lookbackSec: Long = 300L): DataFrame = {
    require(stepSec > 0, "step must be positive")
    val startUs = usOf(startTs)
    val endUs = usOf(endTs)
    require(endUs >= startUs, "end must be >= start")
    val stepUs = stepSec * 1000000L
    val g = new GridCompiler(src, startUs, stepUs,
      nSteps = (endUs - startUs) / stepUs, lookbackUs = lookbackSec * 1000000L)
    g.compileTop(parse(query, stepSec))
      .withColumn("step_ts",
        timestamp_micros(lit(startUs) + col("__step") * lit(stepUs)))
      .drop("__step")
  }

  /** Compiles an AST onto the step grid: every produced frame carries a
    * `__step` grid-index column, and every grouping/join/window includes
    * it — the grid dimension rides the same shuffles as the series key. */
  private final class GridCompiler(src: PromSource, startUs: Long, stepUs: Long,
                                   nSteps: Long, lookbackUs: Long) {
    private def emptySteps = array().cast("array<bigint>")

    /** Grid indices i with T_i >= t and T_i < horizon, clamped to [0, n].
      * Boundary-exact: the deltas are day-scale micros (≪ 2^53) and an
      * on-grid delta divides exactly in IEEE double, so ceil() lands on
      * the integer itself. */
    private def stepsFor(tUs: Column, horizonUs: Column): Column = {
      val iMin = greatest(
        ceil((tUs - lit(startUs)).cast("double") / lit(stepUs.toDouble)).cast("long"),
        lit(0L))
      val iMax = least(
        ceil((horizonUs - lit(startUs)).cast("double") / lit(stepUs.toDouble)).cast("long") - 1,
        lit(nSteps))
      when(iMin <= iMax, sequence(iMin, iMax)).otherwise(emptySteps)
    }

    /** Sample event-time in grid micros; `offset` shifts the series
      * forward (a sample at t evaluates as if at t + offset). */
    private def teCol(offsetSec: Long): Column =
      unix_micros(col(src.tsCol)) + lit(offsetSec * 1000000L)

    /** Native-histogram frames on the step grid (the query_range face of
      * [[histVector]]): per (series, step), the newest in-lookback
      * histogram (plain selector) or the merged reset-aware increase
      * over the step's trailing window (`rate`/`increase`). Pair diffs
      * are computed ONCE per series — one window shuffle — and each
      * pair explodes onto the ≤ ⌈w/step⌉ steps whose window holds BOTH
      * its samples (cur ≤ T < prev + w, exactly the instant form's
      * in-window-pairs rule), then [[NativeHistogram.merge]] combines
      * per (series, step). Bucket-sized rows throughout, no per-step
      * re-evaluation. */
    private def gridHistVector(h: HistBinding, child: Ast): (DataFrame, Column) = {
      val histCols = Seq("schema", "count", "sum", "zero_count", "pos", "neg")
      // an `@`-pinned hist selector is STEP-INVARIANT: evaluate once via
      // the instant path (start()/end() resolve to the grid's own edges,
      // the same rule fixedInstant applies) and broadcast across steps
      def pinned(sel: Selector, wrap: Selector => Ast): Option[(DataFrame, Column)] =
        sel.at.map { at =>
          val pinSec = at match {
            case AtTs(s) => s
            case AtStart => startUs / 1000000L
            case AtEnd   => (startUs + nSteps * stepUs) / 1000000L
          }
          val (hv, sc) = histVector(h, wrap(sel.copy(at = Some(AtTs(pinSec)))),
            tsOfEpoch(pinSec), s"${lookbackUs / 1000000L} SECONDS")
          (hv.crossJoin(broadcast(stepsDomain)), sc)
        }
      child match {
        case sel: Selector if sel.at.isDefined =>
          pinned(sel, identity).get
        case RangeFn(fn @ ("rate" | "increase"), sel, w, p, p2)
            if sel.at.isDefined =>
          pinned(sel, s2 => RangeFn(fn, s2, w, p, p2)).get
        case sel: Selector =>
          val te = unix_micros(col(h.tsCol)) + lit(sel.offsetSec * 1000000L)
          val hv = h.df.filter(matcherCondFor(h.metricCol, sel))
            .withColumn("__step", explode(stepsFor(te, te + lit(lookbackUs))))
            .groupBy(h.seriesKey.map(labelCol) :+ col("__step"): _*)
            .agg(max_by(struct(histCols.map(col): _*),
              struct(col(h.tsCol), col(h.orderCol))).as("__h"))
            .select((h.seriesKey.map(labelCol) :+ col("__step")) ++
              histCols.map(c => col(s"__h.$c").as(c)): _*)
          (hv, lit(1.0))
        case RangeFn(fn @ ("rate" | "increase"), sel, w, _, _) =>
          val wUs = w * 1000000L
          val inc = NativeHistogram.increase(
            h.df.filter(matcherCondFor(h.metricCol, sel)), h.seriesKey, h.tsCol)
          val curUs = unix_micros(col(h.tsCol)) + lit(sel.offsetSec * 1000000L)
          val prevUs = curUs - (col("dt_sec") * 1000000L).cast("long")
          val exploded = inc.withColumn("__step",
            explode(stepsFor(curUs, prevUs + lit(wUs))))
          (NativeHistogram.merge(exploded, h.seriesKey :+ "__step"),
            if (fn == "rate") lit(1.0 / w) else lit(1.0))
        case other => throw new IllegalArgumentException(
          "native-histogram functions take a plain selector or rate()/" +
            s"increase() of one, got $other")
      }
    }

    /** The full step domain `0..nSteps` — absent() probes, `@`-pinned
      * broadcast, and vector()/scalar() grids all ride it. */
    private def stepsDomain: DataFrame =
      src.df.sparkSession.range(nSteps + 1).select(col("id").as("__step"))

    /** An `@`-pinned subtree on the grid: the pinned instant makes the
      * result STEP-INVARIANT, so it evaluates ONCE through the instant
      * compiler and broadcast-replicates across the (tiny) step domain —
      * instead of exploding the selector onto every step. `start()`/
      * `end()` resolve to the grid's own edges. */
    private def fixedInstant(ast: Ast, at: At): DataFrame = {
      val pinSec = at match {
        case AtTs(s) => s
        case AtStart => startUs / 1000000L
        case AtEnd   => (startUs + nSteps * stepUs) / 1000000L
      }
      // the instant compiler re-applies the pin idempotently (AtTs pins
      // to the same epoch; start()/end() resolve to "the instant itself",
      // which IS the already-resolved grid edge passed here)
      PromQlParser.compile(src, ast, tsOfEpoch(pinSec),
          s"${lookbackUs / 1000000L} SECONDS")
        .crossJoin(broadcast(stepsDomain))
    }

    /** Top-level entry: a pure-scalar query (upstream result type
      * "scalar") yields one unlabeled row per step — `time()` reads each
      * step's own instant; anything vector-typed goes to [[compile]]. */
    def compileTop(ast: Ast): DataFrame =
      pureScalarCol(ast,
        (lit(startUs) + col("__step") * lit(stepUs)) / 1000000.0) match {
        case Some(c) => stepsDomain.select(col("__step"), c.as("value"))
        case None => compile(ast)
      }

    def compile(ast: Ast): DataFrame = ast match {
      case sel: Selector if sel.at.isDefined => fixedInstant(sel, sel.at.get)
      case rf @ RangeFn(_, sel, _, _, _) if sel.at.isDefined =>
        fixedInstant(rf, sel.at.get)
      case er @ ExtRange(_, _, sel, _) if sel.at.isDefined =>
        fixedInstant(er, sel.at.get)
      case tsf @ TimestampFn(sel) if sel.at.isDefined =>
        fixedInstant(tsf, sel.at.get)
      // an @-pinned subquery is step-invariant like any pinned subtree
      case rs @ RangeSub(_, sub, _) if sub.at.isDefined =>
        fixedInstant(rs, sub.at.get)

      case sel: Selector =>
        // instant vector per step: latest sample within (T − lookback, T]
        val te = teCol(sel.offsetSec)
        val keyCols = src.seriesKey.map(labelCol)
        src.df.filter(matcherCond(src, sel))
          .withColumn("__step", explode(stepsFor(te, te + lit(lookbackUs))))
          .groupBy(keyCols :+ col("__step"): _*)
          .agg(max_by(col(src.valueCol),
            struct(col(src.tsCol), col(src.orderCol))).as("value"))

      case RangeFn(fn, sel, w, param, param2) =>
        val wUs = w * 1000000L
        val te = teCol(sel.offsetSec)
        val keyCols = src.seriesKey.map(labelCol)
        val v = col(src.valueCol)
        val ord = struct(col(src.tsCol), col(src.orderCol))
        val filtered = src.df.filter(matcherCond(src, sel))
        fn match {
          case "rate" | "increase" =>
            // Reset-aware increases computed ONCE per series (adjacent
            // pairs are the same globally as within any contiguous time
            // window), then exploded onto the steps whose window holds
            // BOTH pair endpoints — T in [t, prev_t + w). This differs
            // from instant eval on a window holding ONE sample: instant
            // emits 0 (counterIncrease's first-sample baseline), while
            // here no pair lands on the step, so it emits no row.
            val wSeries = Window.partitionBy(keyCols: _*)
              .orderBy(col(src.tsCol), col(src.orderCol))
            val inc = PromQl.counterIncrease(filtered, src.seriesKey,
                src.tsCol, src.orderCol, src.valueCol)
              .withColumn("__prev_te", lag(te, 1).over(wSeries))
            val steps = when(col("__prev_te").isNull, emptySteps)
              .otherwise(stepsFor(te, col("__prev_te") + lit(wUs)))
            val total = sum(round(col("inc"), 6).cast("decimal(18,6)")).cast("double")
            inc.withColumn("__step", explode(steps))
              .groupBy(keyCols :+ col("__step"): _*)
              .agg((if (fn == "rate") total / w.toDouble else total).as("value"))
          case "delta" =>
            filtered.withColumn("__step", explode(stepsFor(te, te + lit(wUs))))
              .groupBy(keyCols :+ col("__step"): _*)
              .agg((max_by(v, ord) - min_by(v, ord)).as("value"))
          case "irate" | "idelta" =>
            // last two in-window samples = the newest in-window sample
            // and its GLOBAL predecessor (an in-window older sample would
            // be adjacent-closer), so pairs compute ONCE per series —
            // one window shuffle — and each step keeps its newest pair,
            // guarded on the predecessor landing inside the window
            val wSer = Window.partitionBy(keyCols: _*)
              .orderBy(col(src.tsCol), col(src.orderCol))
            val paired = filtered
              .withColumn("__pv", lag(v, 1).over(wSer))
              .withColumn("__pt", lag(unix_micros(col(src.tsCol)), 1).over(wSer))
            val newest = paired
              .withColumn("__step", explode(stepsFor(te, te + lit(wUs))))
              .groupBy(keyCols :+ col("__step"): _*)
              .agg(max_by(struct(v.as("__v1"), col("__pv").as("__v2"),
                unix_micros(col(src.tsCol)).as("__t1"), col("__pt").as("__t2")),
                ord).as("__p"))
              .select(keyCols ++ Seq(col("__step"), col("__p.__v1").as("__v1"),
                col("__p.__v2").as("__v2"), col("__p.__t1").as("__t1"),
                col("__p.__t2").as("__t2")): _*)
            val winStartUs =
              lit(startUs) + col("__step") * lit(stepUs) - lit(wUs)
            val value =
              if (fn == "idelta") col("__v1") - col("__v2")
              else when(col("__v1") < col("__v2"), col("__v1"))
                .otherwise(col("__v1") - col("__v2")) /
                ((col("__t1") - col("__t2")) / 1000000.0)
            newest
              .filter(col("__v2").isNotNull &&
                col("__t2") + lit(sel.offsetSec * 1000000L) > winStartUs)
              .select(keyCols ++ Seq(col("__step"), value.as("value")): _*)
          case f if overTimeFns(f) =>
            overTimeAgg(
              filtered.withColumn("__step", explode(stepsFor(te, te + lit(wUs))))
                .groupBy(keyCols :+ col("__step"): _*),
              f, v, param, lastOrd = ord,
              tsSec = unix_micros(col(src.tsCol)).cast("double") / 1000000.0)
          case "resets" | "changes" =>
            // samples define presence (instant-style explode → a
            // lone-sample step emits 0); a global-adjacent pair counts
            // toward a step iff its prev endpoint is also inside that
            // step's window — adjacency within a contiguous window equals
            // global adjacency, so this matches the instant semantics
            val wSeries = Window.partitionBy(keyCols: _*)
              .orderBy(col(src.tsCol), col(src.orderCol))
            val paired = filtered
              .withColumn("__prev", lag(v, 1).over(wSeries))
              .withColumn("__prev_te", lag(te, 1).over(wSeries))
              .withColumn("__step", explode(stepsFor(te, te + lit(wUs))))
            val stepT = lit(startUs) + col("__step") * lit(stepUs)
            val pairIn = col("__prev_te").isNotNull &&
              stepT < col("__prev_te") + lit(wUs)
            val hit =
              if (fn == "resets") pairIn && v < col("__prev")
              else pairIn && v =!= col("__prev")
            paired.groupBy(keyCols :+ col("__step"): _*)
              .agg(sum(when(hit, 1).otherwise(0)).cast("double").as("value"))
          case "deriv" | "predict_linear" =>
            // x is measured from each step's evaluation instant T_i, so
            // the fit per (series, step) matches the instant semantics
            val exploded = filtered
              .withColumn("__step", explode(stepsFor(te, te + lit(wUs))))
            linearFit(exploded, keyCols :+ col("__step"),
              te - (lit(startUs) + col("__step") * lit(stepUs)), v,
              if (fn == "deriv") Double.NaN else param.get)
          case "absent_over_time" =>
            // per-step absence: the step domain anti-joined against the
            // steps whose range window holds at least one sample
            val present = filtered
              .withColumn("__step", explode(stepsFor(te, te + lit(wUs))))
            absentFrame(stepsDomain, sel, present, Seq("__step"))
          case "holt_winters" =>
            holtWinters(
              filtered.withColumn("__step", explode(stepsFor(te, te + lit(wUs))))
                .groupBy(keyCols :+ col("__step"): _*),
              src, param.get, param2.get)
          case other =>
            throw new IllegalArgumentException(
              s"$other is not supported in range (grid) evaluation")
        }

      case AggBy(fn, by, child, without) =>
        val vec = compile(child)
        val groupBy =
          (if (without) vec.columns.filterNot(c => nonLabelCols(c) || by.contains(c)).toSeq
           else by) :+ "__step"
        aggVector(vec, fn, groupBy)

      case TopK(k, by, child, bottom) =>
        val vec = compile(child)
        val tieCols = vec.columns.filterNot(c => nonLabelCols(c) || by.contains(c)).toSeq
        PromQl.topk(vec, k, by :+ "__step", "value", tieCols, asc = bottom)

      case VecFn(fn, child, args) =>
        compile(child).withColumn("value", vecFnApply(fn, col("value"), args))

      case lf: LabelFn =>
        labelFnApply(compile(lf.child), lf)

      case AggQuantile(phi, by, child, without) =>
        val vec = compile(child)
        val groupBy =
          (if (without) vec.columns.filterNot(c => nonLabelCols(c) || by.contains(c)).toSeq
           else by) :+ "__step"
        aggVector(vec, "quantile", groupBy, phi)

      case Absent(sel) =>
        // per-step absence: the full step domain anti-joined against the
        // steps where the selector has a live sample
        val steps = src.df.sparkSession.range(nSteps + 1)
          .select(col("id").as("__step"))
        absentFrame(steps, sel, compile(sel), extraKey = Seq("__step"))

      case TimestampFn(sel) =>
        val te = teCol(sel.offsetSec)
        src.df.filter(matcherCond(src, sel))
          .withColumn("__step", explode(stepsFor(te, te + lit(lookbackUs))))
          .groupBy(src.seriesKey.map(labelCol) :+ col("__step"): _*)
          .agg((max(unix_micros(col(src.tsCol))).cast("double") / 1000000.0).as("value"))

      case CountValues(label, by, child, without) =>
        countValuesAgg(compile(child), label, by, without,
          gridKey = Seq("__step"))

      case SortFn(_, child, _) =>
        // sort()/sort_desc()/sort_by_label have no effect in range
        // queries (the Prometheus rule) — pure pass-through on the grid
        compile(child)

      case LimitK(k, by, child) =>
        limitKFrame(compile(child), k, by, gridKey = Seq("__step"))

      case LimitRatio(r, child) =>
        limitRatioFrame(compile(child), r)

      case sf: ScalarFn =>
        // per-step scalar; steps where the vector is empty read NaN
        stepsDomain
          .join(broadcast(scalarFrame(compile(sf.child), Seq("__step"))),
            Seq("__step"), "left")
          .select(col("__step"),
            coalesce(col("__scalar"), lit(Double.NaN)).as("value"))

      case VectorFn(child) =>
        val stepT = (lit(startUs) + col("__step") * lit(stepUs)) / 1000000.0
        child match {
          case ScalarLit(v) => stepsDomain.select(col("__step"), lit(v).as("value"))
          case TimeFn => stepsDomain.select(col("__step"), stepT.as("value"))
          case s: ScalarFn => compile(s) // already one row per step
          case other => throw new IllegalArgumentException(
            s"vector() expects a scalar argument, got $other")
        }

      case TimeComp(fn, None) =>
        val stepT = (lit(startUs) + col("__step") * lit(stepUs)) / 1000000.0
        stepsDomain.select(col("__step"),
          timeCompCol(fn, stepT).as("value"))
      case TimeComp(fn, Some(child)) =>
        compile(child).withColumn("value", timeCompCol(fn, col("value")))

      case BinOp(op, lhs, rhs, matching, group, boolMode) =>
        // time() on the grid is each step's own evaluation instant — a
        // column over __step, riding the same projection as a literal
        def scalarOf(a: Ast): Option[Column] =
          pureScalarCol(a, (lit(startUs) + col("__step") * lit(stepUs)) / 1000000.0)
        // scalar(v) operand: its one-row-per-step frame broadcast-joins
        // onto the vector side on __step; empty steps read NaN.
        def withScalar(vec: DataFrame, s: ScalarFn): DataFrame =
          vec.join(broadcast(scalarFrame(compile(s.child), Seq("__step"))),
              Seq("__step"), "left")
            .withColumn("__scalar", coalesce(col("__scalar"), lit(Double.NaN)))
        (scalarOf(lhs), scalarOf(rhs)) match {
          case (Some(_), Some(_)) =>
            throw new IllegalArgumentException(
              "scalar-only expressions are not instant vectors; fold constants in the query")
          case (Some(a), None) =>
            binOpScalar(op, compile(rhs), a, scalarOnLeft = true, boolMode)
          case (None, Some(b)) =>
            binOpScalar(op, compile(lhs), b, scalarOnLeft = false, boolMode)
          case (None, None) => (lhs, rhs) match {
            case (s: ScalarFn, _) =>
              binOpScalar(op, withScalar(compile(rhs), s), col("__scalar"),
                scalarOnLeft = true, boolMode).drop("__scalar")
            case (_, s: ScalarFn) =>
              binOpScalar(op, withScalar(compile(lhs), s), col("__scalar"),
                scalarOnLeft = false, boolMode).drop("__scalar")
            case _ =>
              binOpVec(op, compile(lhs), compile(rhs), matching, group, boolMode,
                gridKey = Seq("__step"))
          }
        }

      case HistQuantile(q, child) =>
        val vec = compile(child)
        if (vec.columns.contains("le"))
          // histogramQuantileVector groups on all non-le label columns,
          // which here includes __step — the grid rides along for free.
          PromQl.histogramQuantileVector(vec, q)
        else src.hist match {
          case Some(h) =>
            val (hv, _) = gridHistVector(h, child)
            val qc = if (hv.columns.contains("custom_values"))
              NativeHistogram.histogramQuantileAuto(q)
            else NativeHistogram.histogramQuantile(q)
            hv.select(h.seriesKey.map(labelCol) ++ Seq(col("__step"),
              qc.as("value")): _*)
          case None => throw new IllegalArgumentException(
            "histogram_quantile needs an 'le'-labeled bucket vector, or a " +
              "native-histogram binding (PromSource.hist) for the native form")
        }

      case HistFn(fn, child, lo, hi) =>
        val h = src.hist.getOrElse(throw new IllegalArgumentException(
          s"histogram_$fn needs a native-histogram binding (PromSource.hist)"))
        val (hv, scale) = gridHistVector(h, child)
        val value = fn match {
          case "count"    => col("count") * scale
          case "sum"      => col("sum") * scale
          case "avg"      => NativeHistogram.histogramAvg
          case "stddev"   => NativeHistogram.histogramStddev()
          case "stdvar"   => NativeHistogram.histogramStdvar()
          case "fraction" => NativeHistogram.histogramFraction(lo.get, hi.get)
        }
        hv.select(h.seriesKey.map(labelCol) ++ Seq(col("__step"), value.as("value")): _*)

      // info() on the grid: the newest-per-key window becomes a keyed
      // (identifying, step) aggregation — each info row explodes onto
      // the steps whose lookback window holds it, max_by keeps the
      // newest per key per step, and ONE left join attaches the data
      // labels to every step's vector. Same exchange shape as a grid
      // selector; the info side stays entity-sized per step.
      case InfoFn(child, dataSel) =>
        val ib = src.info.getOrElse(throw new IllegalArgumentException(
          "info() needs an info-metric binding (PromSource.info)"))
        val vec = compile(child)
        require(ib.identifying.forall(vec.columns.contains),
          s"info(): the child vector must carry the identifying labels ${ib.identifying}")
        val (rowCond, wanted) = infoParts(ib, dataSel)
        val te = unix_micros(col(ib.tsCol))
        val newest = ib.df.filter(rowCond)
          .withColumn("__step", explode(stepsFor(te, te + lit(lookbackUs))))
          .groupBy(ib.identifying.map(col) :+ col("__step"): _*)
          .agg(max_by(struct(wanted.map(col): _*),
            struct(col(ib.tsCol), col(ib.orderCol))).as("__i"))
          .select((ib.identifying.map(col) :+ col("__step")) ++
            wanted.map(c => col(s"__i.$c").as(c)): _*)
        vec.join(newest, ib.identifying :+ "__step", "left")

      case ScalarLit(_) | TimeFn =>
        throw new IllegalArgumentException(
          "a bare scalar is not an instant vector; use it as a binary-operator operand")

      // Subquery on the outer grid — NOT a grid of grids: the inner
      // expression evaluates ONCE on a shared fine grid (ABSOLUTE epoch
      // multiples of the substep, covering the first outer step's window
      // through the last outer step), and each fine-grid sample then
      // explodes onto the ≤ ⌈range/step⌉+1 outer steps whose window
      // holds it — the same bounded generate-project shape as every
      // other grid operator. A day-long query_range over a 1h:5m
      // subquery evaluates the inner rate ~300 times total, not 288 × 12.
      //
      // Upstream-aligned (round 10, with the instant path): each outer
      // step T folds the fine samples at absolute substep multiples in
      // the CLOSED window [T − range, T] — exactly the instants instant
      // evaluation at T uses, for ANY outer step (absolute alignment is
      // what removed the old step-divisibility restriction: outer steps
      // need not land on the fine grid for the two paths to agree).
      case RangeSub(fn, sub, param) =>
        require(sub.stepSec > 0, "subquery step must be positive")
        require(overTimeFns(fn),
          s"$fn over a subquery is not supported; use a *_over_time function")
        val subUs = sub.stepSec * 1000000L
        val rangeUs = sub.rangeSec * 1000000L
        // subquery `offset` shifts every outer step's window back by
        // offsetUs (the @-pinned form took the step-invariant branch
        // above): a fine sample at t serves outer step T iff
        // t ∈ [T − off − range, T − off], so the inner grid shifts and
        // each sample explodes onto steps [t + off, t + off + range]
        val offUs = sub.offsetSec * 1000000L
        val innerStart = alignUp(startUs - offUs - rangeUs, subUs)
        val innerN =
          (Math.floorDiv(startUs + nSteps * stepUs - offUs, subUs) * subUs -
            innerStart) / subUs
        val inner = new GridCompiler(src, innerStart, subUs, innerN,
          lookbackUs = 300L * 1000000L)
        val ig = inner.compile(sub.child).withColumnRenamed("__step", "__substep")
        val tAbs = lit(innerStart) + col("__substep") * lit(subUs)
        // +1 µs horizon: stepsFor is horizon-exclusive; the window is
        // closed on both ends, so a step exactly range after the sample
        // still holds it (all quantities are µs-integral)
        val exploded = ig.withColumn("__step",
          explode(stepsFor(tAbs + lit(offUs), tAbs + lit(offUs) + lit(rangeUs) + lit(1L))))
        val labels = ig.columns.filterNot(nonLabelCols).toSeq
        overTimeAgg(exploded.groupBy((labels :+ "__step").map(col): _*),
          fn, col("value"), param, lastOrd = col("__substep"),
          tsSec = tAbs.cast("double") / 1000000.0)

      case sq: Subquery => throw new IllegalArgumentException(
        s"a subquery ($sq) is only valid under a *_over_time function")
      case rv: RangeVec => throw new IllegalArgumentException(
        s"a range vector ($rv) is only valid as a range function's argument")

      // EXTENDED range selectors on the grid (3.5 experimental): three
      // shared pieces with the instant face — the reset-adjusted DECIMAL
      // level (PromQl.adjusted), the boundary math over decimal
      // differences (PromQl.boundaryValue), and the left-anchor rule —
      // so a one-step range query equals the instant query EXACTLY (the
      // decimal differences cancel the fetches' different prefix-sum
      // bases; PromQlConsistencySpec pins it). Two explode faces:
      //  - in-window: sample → steps with T ∈ [te, te + w), aggregated
      //    to first/last in-window anchors per (series, step);
      //  - pre-anchor: a sample is the last-at-or-before-window-start
      //    anchor exactly for steps whose S = T − w falls in
      //    [te, min(next_te, te + lookback)) — consecutive samples'
      //    intervals are disjoint, so each (series, step) gets ≤ 1 row
      //    and the explode is bounded by lookback/step per sample.
      // Three anchor faces; the post face mirrors the pre face through
      // lead/lag symmetry: a sample is the FIRST-after-boundary anchor
      // exactly for boundaries in (max(prev_te, te − lookahead), te) —
      // consecutive samples' intervals are disjoint, so each
      // (series, step) gets ≤ 1 row. Smoothed's right straddle therefore
      // reads the sample past the step instant when storage holds one
      // (the extended-selectors design); at the data head there is none
      // and the right edge falls back to the last in-window sample —
      // identically to the instant compiler, whose fetch extends one
      // lookback past T for the same reason.
      case ExtRange(mode, fn, sel, w) =>
        val wUs = w * 1000000L
        val te = teCol(sel.offsetSec)
        val keyCols = src.seriesKey.map(labelCol)
        val ord = struct(col(src.tsCol), col(src.orderCol))
        val filtered = src.df.filter(matcherCond(src, sel))
        val wSeries = Window.partitionBy(keyCols: _*)
          .orderBy(col(src.tsCol), col(src.orderCol))
        val horizonCap = startUs + (nSteps + 1) * stepUs // past the grid
        val adj = PromQl.adjusted(filtered, src.seriesKey, src.tsCol,
            src.orderCol, src.valueCol, isCounter = fn != "delta")
          .withColumn("__te", te)
          .withColumn("__next_te", lead(col("__te"), 1).over(wSeries))
          .withColumn("__prev_te", lag(col("__te"), 1).over(wSeries))
        val pt = struct(col("__te").as("t"), col("__adj").as("v"))
        val inFace = adj
          .withColumn("__step",
            explode(stepsFor(col("__te"), col("__te") + lit(wUs))))
          .groupBy(keyCols :+ col("__step"): _*)
          .agg(min_by(pt, ord).as("__fin"), max_by(pt, ord).as("__lin"),
            count(lit(1)).as("__n"))
        val preFace = adj
          .withColumn("__step", explode(stepsFor(
            col("__te") + lit(wUs),
            least(coalesce(col("__next_te"), lit(horizonCap)),
              col("__te") + lit(lookbackUs)) + lit(wUs))))
          .groupBy(keyCols :+ col("__step"): _*)
          .agg(max_by(pt, ord).as("__pre"))
        val postFace = adj
          .withColumn("__step", explode(stepsFor(
            greatest(coalesce(col("__prev_te"), col("__te") - lit(lookbackUs)),
              col("__te") - lit(lookbackUs)),
            col("__te"))))
          .groupBy(keyCols :+ col("__step"): _*)
          .agg(min_by(pt, ord).as("__post"))
        val stepT = lit(startUs) + col("__step") * lit(stepUs)
        inFace.join(preFace, src.seriesKey :+ "__step", "left")
          .join(postFace, src.seriesKey :+ "__step", "left")
          .filter(col("__n") >= 1 &&
            (col("__pre").isNotNull || col("__n") >= 2))
          .withColumn("value", PromQl.boundaryValue(mode, col("__pre"),
            col("__fin"), col("__lin"), col("__post"), stepT - lit(wUs), stepT,
            if (fn == "rate") Some(w.toDouble) else None))
          .select(keyCols ++ Seq(col("__step"), col("value")): _*)
    }
  }
}
