package perfbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

class ScheduleSpec extends AnyFunSuite {
  private def digest(workload: String, seed: Long): String = {
    val args = Main.Args(workload, seed, 10, trace = false, new File("unused"),
      new File("unused"))
    workload match {
      case "promql_read" => new PromqlRead(args).digest
      case "ingest_rw" => new IngestRw(args).digest
      case "aiops_catalog" => new AiopsCatalog(args).digest
    }
  }

  for (w <- Seq("promql_read", "ingest_rw", "aiops_catalog")) {
    test(s"$w: the same seed gives the same schedule digest") {
      assert(digest(w, 11) == digest(w, 11))
    }
    test(s"$w: another seed gives another schedule digest") {
      assert(digest(w, 11) != digest(w, 12))
    }
  }

  test("promql_read keeps its request mix in every block of 20") {
    val ops = Schedule.promqlRead(5, 200)
    ops.grouped(20).foreach { b =>
      assert(b.count(_.isInstanceOf[InstantQ]) == 15)
      assert(b.count(_.isInstanceOf[RangeQ]) == 4)
    }
  }

  test("range queries stay within 6 h to 7 d and at most 300 steps") {
    Schedule.promqlRead(9, 400).collect { case r: RangeQ => r }.foreach { r =>
      val span = r.endSec - r.startSec
      assert(span >= 6 * 3600 && span <= 7 * 86400)
      assert(span / r.stepSec <= 300)
    }
  }
}
