package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

/** The seeded generators. Every query string, evaluation time, range and
  * write body comes from here, before any timing starts; the engine sees
  * only the generated inputs. */
sealed trait Op { def describe: String }
/** A request answered by PromQL evaluation. */
sealed trait PromQ extends Op { def query: String }

final case class InstantQ(query: String, timeSec: Long) extends PromQ {
  def describe = s"instant $timeSec $query"
}
final case class RangeQ(query: String, startSec: Long, endSec: Long, stepSec: Long) extends PromQ {
  def describe = s"range $startSec $endSec $stepSec $query"
}
final case class SeriesQ(matcher: String) extends Op { def describe = s"series $matcher" }
case object LabelsQ extends Op { def describe = "labels" }

/** One remote-write body: `series` maps a `user_id` label to its samples
  * (epoch ms, value), all under the fresh metric name `metric`. */
final case class WriteOp(index: Int, metric: String,
                         series: Seq[(Long, Seq[(Long, Double)])]) extends Op {
  def describe: String = s"write $index $metric " +
    series.map { case (u, ss) => s"$u:" + ss.map { case (t, v) => s"$t=$v" }.mkString(",") }.mkString(";")
  def lastMs: Long = series.flatMap(_._2.map(_._1)).max
  def samples: Int = series.map(_._2.size).sum
}

object Schedule {
  def digest(items: Seq[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    items.foreach { i =>
      val s = i match { case o: Op => o.describe; case o => o.toString }
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private val Types = EventsData.Types
  private val Windows = Seq("12h", "1d", "3d")
  /** Evaluation instants: whole minutes from day 4 (so that 3-day windows
    * hold data) to the end of the data. */
  private def evalTime(r: Random): Long = {
    val lo = EventsData.StartSec + 4 * 86400L
    val hi = EventsData.StartSec + EventsData.SpanSec
    lo + r.nextLong((hi - lo) / 60) * 60
  }
  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def twoTypes(r: Random): (String, String) = {
    val s = r.shuffle(Types)
    (s(0), s(1))
  }

  /** Instant-query templates: the shapes SRE dashboards issue. */
  private val instantTemplates: Seq[Random => String] = Seq(
    r => s"rate(${pick(r, Types)}[${pick(r, Windows)}])",
    r => s"irate(${pick(r, Types)}[${pick(r, Windows)}])",
    r => s"increase(${pick(r, Types)}[${pick(r, Windows)}])",
    r => { val (a, b) = twoTypes(r); s"""sum by (event_type) (rate({event_type=~"$a|$b"}[${pick(r, Windows)}]))""" },
    r => s"max by (event_type) (max_over_time(${pick(r, Types)}[${pick(r, Windows)}]))",
    r => s"count by (event_type) (count_over_time(${pick(r, Types)}[${pick(r, Windows)}]))",
    r => s"topk(${1 + r.nextInt(5)}, rate(${pick(r, Types)}[${pick(r, Windows)}]))",
    r => s"quantile_over_time(0.${5 + r.nextInt(5)}, ${pick(r, Types)}[${pick(r, Windows)}])",
    r => { val (a, b) = twoTypes(r); s"sum by (user_id) (rate($a[${pick(r, Windows)}])) / sum by (user_id) (rate($b[${pick(r, Windows)}]))" })

  /** Range-query templates: aggregated, so a 300-step grid stays small. */
  private val rangeTemplates: Seq[Random => String] = Seq(
    r => s"sum by (event_type) (rate(${pick(r, Types)}[1d]))",
    r => s"sum by (event_type) (count_over_time(${pick(r, Types)}[6h]))",
    r => { val (a, b) = twoTypes(r); s"""max by (event_type) (max_over_time({event_type=~"$a|$b"}[12h]))""" },
    r => s"sum(increase(${pick(r, Types)}[1d]))")

  private def rangeOp(r: Random, template: Random => String): RangeQ = {
    val span = (6 * 3600L) + r.nextLong(7 * 86400L - 6 * 3600L)
    val steps = 150 + r.nextInt(151)
    val step = (span / steps + 59) / 60 * 60 // whole minutes, at most `steps` steps
    val end = evalTime(r)
    RangeQ(template(r), end - span, end, step)
  }

  private def metaOp(r: Random, i: Int): Op =
    if (i % 2 == 0) SeriesQ(s"""${pick(r, Types)}{user_id="${r.nextInt(EventsData.Users)}"}""")
    else LabelsQ

  /** `promql_read`: blocks of 20 requests, 15 instant, 4 range (one per
    * range template) and 1 metadata, shuffled within the block, so that
    * every prefix of the schedule keeps the mix. Instant templates are
    * dealt from seeded shuffles of the template list, so each successive
    * group of 9 instant queries uses every template once; the seed varies
    * their order and arguments. */
  def promqlRead(seed: Long, n: Int): Seq[Op] = {
    val r = new Random(seed)
    val deal = Iterator.continually(r.shuffle(instantTemplates)).flatten
    Iterator.from(0).flatMap { b =>
      val block = Seq.fill(15)(InstantQ(deal.next()(r), evalTime(r))) ++
        rangeTemplates.map(rangeOp(r, _)) :+ metaOp(r, b)
      r.shuffle(block)
    }.take(n).toSeq
  }

  /** Instant queries on the historic `events` data, for `ingest_rw`,
    * templates dealt as in [[promqlRead]]. */
  def historic(r: Random, n: Int): Seq[InstantQ] = {
    val deal = Iterator.continually(r.shuffle(instantTemplates)).flatten
    Seq.fill(n)(InstantQ(deal.next()(r), evalTime(r)))
  }

  /** `ingest_rw` writes: each a fresh metric of `seriesPer` series by
    * `samplesPer` samples at 15 s spacing, after the historic data. Values
    * are whole hundredths, exact in every decimal rendering. */
  def writes(seed: Long, n: Int, seriesPer: Int, samplesPer: Int): Seq[WriteOp] = {
    val r = new Random(seed ^ 0x5bd1e995L)
    val base = (EventsData.StartSec + 32 * 86400L) * 1000L
    (0 until n).map { i =>
      val users = r.shuffle((0 until EventsData.Users).toList).take(seriesPer).sorted.map(_.toLong)
      val t0 = base + i * 3600000L + r.nextInt(60) * 1000L
      WriteOp(i, s"rw_$i", users.map { u =>
        u -> (0 until samplesPer).map(j => (t0 + j * 15000L, r.nextInt(1000000) / 100.0))
      })
    }
  }
}
