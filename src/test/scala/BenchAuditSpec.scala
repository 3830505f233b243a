import org.scalatest.funsuite.AnyFunSuite

/** The audit gate's JSON readers (round-9 rework: a regex reader silently
  * mis-parsed nested/escaped shapes — the exact failure mode a mechanical
  * gate exists to prevent). Default package because BenchAudit is. */
class BenchAuditSpec extends AnyFunSuite {

  test("parseFlat reads a baseline file shape exactly") {
    val m = BenchAudit.parseFlat(
      """{ "q01": 1.5, "__probe__": 0.42, "s57": 2, "note": "ignored" }""", "t")
    assert(m === Map("q01" -> 1.5, "__probe__" -> 0.42, "s57" -> 2.0))
  }

  test("parseFlat FAILS LOUDLY on malformed JSON (gate must not disarm silently)") {
    val e = intercept[IllegalArgumentException] {
      BenchAudit.parseFlat("""{ "q01": 1.5, """, "t")
    }
    assert(e.getMessage.contains("not valid JSON"))
    val e2 = intercept[IllegalArgumentException] { BenchAudit.parseFlat("""[1,2]""", "t") }
    assert(e2.getMessage.contains("expected a JSON object"))
  }

  test("parseBenchFull reads nested queries + worse probe sample") {
    val (qs, probe) = BenchAudit.parseBenchFull(
      """{"metric":"total","value":3.0,"probe":{"start":0.4,"end":0.9},
         "queries":{"q01":1.0,"s57":2.0},"reps":{"q01":[0.9,1.0,1.2]}}""")
    assert(qs === Map("q01" -> 1.0, "s57" -> 2.0))
    assert(probe === Some(0.9))
  }

  test("parseBenchFull tolerates a pre-probe-era artifact (no probe field)") {
    val (qs, probe) = BenchAudit.parseBenchFull("""{"queries":{"q01":1.0}}""")
    assert(qs === Map("q01" -> 1.0) && probe.isEmpty)
  }

  test("parseBenchFull does NOT confuse per-rep arrays with medians") {
    // the old regex reader would have matched "q01" inside "reps" too
    val (qs, _) = BenchAudit.parseBenchFull(
      """{"queries":{"q01":1.0},"reps":{"q01":[9.0,9.0,9.0]}}""")
    assert(qs("q01") === 1.0)
  }

  test("Bench.loadVerdict: loaded box stamps true, quiet false, no baseline null") {
    assert(graft.Bench.loadVerdict(0.30, Some(0.18)) == "true")  // 1.67x
    assert(graft.Bench.loadVerdict(0.20, Some(0.18)) == "false")
    assert(graft.Bench.loadVerdict(0.20, None) == "null")
    assert(graft.Bench.loadVerdict(0.20, Some(0.0)) == "null") // degenerate base
  }

  test("Bench.fitPrefix: the line's query map is a true slowest-first prefix") {
    val entries = Seq("\"q_slow_with_a_long_name\":9.0", "\"q2\":5.0", "\"q3\":1.0")
    // the long slow entry does not fit: nothing behind it may take its place
    assert(graft.Bench.fitPrefix(entries, 29).isEmpty)
    assert(graft.Bench.fitPrefix(entries, 30) == entries.take(1)) // 29 chars + comma
    assert(graft.Bench.fitPrefix(entries, 39) == entries.take(2))
    assert(graft.Bench.fitPrefix(entries, 38) == entries.take(1))
    assert(graft.Bench.fitPrefix(entries, 1000) == entries)
    assert(graft.Bench.fitPrefix(Nil, 10).isEmpty)
  }

  test("Bench.sfNumber: sf<number> suffix or None, never a made-up 0") {
    assert(graft.Bench.sfNumber("/data/sf0.1") == Some("0.1"))
    assert(graft.Bench.sfNumber("/data/sf10") == Some("10"))
    assert(graft.Bench.sfNumber("/data/scale_slice").isEmpty)
    assert(graft.Bench.sfNumber("/data/sf0.1/events").isEmpty)
    assert(graft.Bench.sfNumber("/data/sf.").isEmpty) // not a number
  }

  test("Bench.hazeBands: a contiguous elevated band self-indicts; " +
    "scattered singles and short runs do not") {
    def row(n: String, base: Double, now: Double) = (n, base, now)
    // the round-12 signature: q65..q72 uniformly 3-5x, neighbors quiet
    val run = Seq(
      row("q60", 1.0, 1.1), row("q61", 0.5, 0.6),
      row("q65", 0.3, 1.1), row("q66", 0.4, 1.6),
      row("q67", 0.2, 0.9), row("q68", 0.5, 2.4),
      row("q70", 0.3, 1.2),
      row("q73", 1.0, 0.9), row("q74", 2.0, 1.8))
    assert(graft.Bench.hazeBands(run) ==
      Seq("q65", "q66", "q67", "q68", "q70"))
    // a single elevated query is a code regression candidate, not haze
    val single = Seq(row("a", 1.0, 1.0), row("b", 0.5, 2.0), row("c", 1.0, 1.0))
    assert(graft.Bench.hazeBands(single).isEmpty)
    // a 3-run band is below minLen=4
    val short3 = Seq(row("a", 0.3, 1.0), row("b", 0.3, 1.0), row("c", 0.3, 1.0),
      row("d", 1.0, 1.0))
    assert(graft.Bench.hazeBands(short3).isEmpty)
    // tiny absolute bumps never band (sub-0.15s jitter)
    val tiny = (1 to 6).map(i => row(s"t$i", 0.02, 0.09))
    assert(graft.Bench.hazeBands(tiny).isEmpty)
    // zero/missing baselines break a band
    val broken = Seq(row("a", 0.3, 1.0), row("b", 0.3, 1.0),
      row("c", 0.0, 9.9), row("d", 0.3, 1.0), row("e", 0.3, 1.0))
    assert(graft.Bench.hazeBands(broken).isEmpty)
  }

  test("parseBenchExtras + effectiveTimes: haze-stamped queries gate on " +
    "min-of-reps; clean queries keep their median") {
    val art =
      """{"queries":{"q01":3.0,"q02":1.0,"q03":4.0},
         "mins":{"q01":0.8,"q02":0.9,"q03":3.9},
         "suspect":["q03"],"haze_suspect":["q01"]}"""
    val (mins, suspect, haze) = BenchAudit.parseBenchExtras(art)
    assert(mins("q01") === 0.8 && suspect === Set("q03") && haze === Set("q01"))
    val eff = BenchAudit.effectiveTimes(art)
    assert(eff === Map("q01" -> 0.8, "q02" -> 1.0, "q03" -> 3.9))
  }

  test("effectiveTimes tolerates artifacts without the round-12 fields") {
    assert(BenchAudit.effectiveTimes("""{"queries":{"q01":1.5}}""") ===
      Map("q01" -> 1.5))
  }
}
