package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --expected <dir>`.
  *
  * Prints informational lines, then as its last stdout line one JSON
  * object: `correct`, `attempted`, `failed` and the metrics of the mode
  * (end-to-end with `--trace 0`, per-layer with `--trace 1`). Exits 1
  * when any output check failed. */
object Main {
  val Cpus = 4
  /** Set-ups after the first, which also starts the JVM's and Spark's
    * one-off work and is left out of `setup_s`. */
  val WarmSetups = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, expected: File)

  def parseArgs(args: Array[String]): Args = {
    def opt(k: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`k`, v) => v }
    def need(k: String) = opt(k).getOrElse(sys.error(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") match {
        case "0" => false
        case "1" => true
        case t => sys.error(s"--trace must be 0 or 1, not $t")
      },
      new File(need("--work")), new File(need("--expected")))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def info(s: String): Unit = println(s"[perfbench] $s")

  def main(argv: Array[String]): Unit =
    try run(parseArgs(argv))
    catch {
      case e: Throwable =>
        // Spark's and the server's threads would keep the JVM alive.
        e.printStackTrace()
        sys.exit(2)
    }

  private def run(args: Args): Unit = {
    args.work.mkdirs()
    val out = new Outcome
    val workload: Workload = args.workload match {
      case "promql_read" => new PromqlRead(args)
      case "ingest_rw" => new IngestRw(args)
      case "aiops_catalog" => new AiopsCatalog(args)
      case w => sys.error(s"unknown workload $w")
    }
    info(s"workload=${args.workload} seed=${args.seed} seconds=${args.seconds} trace=${args.trace}")
    info(s"schedule digest ${workload.digest}")

    // Set-up is repeated and the median of the warm ones reported: the
    // first includes one-off JVM and Spark start-up (and, once per
    // checkout, writing the data), which would make it the noisiest
    // figure. The last session stays up for the run.
    val setups = (0 to WarmSetups).map { i =>
      val t0 = System.nanoTime()
      val spark = session(args.work)
      workload.setup(spark, EventsData.ensure(spark, args.work, workload.rows, workload.users))
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < WarmSetups) { workload.teardown(); spark.stop() }
      dt
    }
    val spark = SparkSession.active
    info(f"setup_s samples ${setups.map(s => f"$s%.3f").mkString(" ")} (the first left out)")
    info(f"probe_start_s ${graft.Bench.probeSec(spark)}%.4f")
    val tracer = new Tracer
    workload.run(spark, out, if (args.trace) Some(tracer) else None)
    info(f"probe_end_s ${graft.Bench.probeSec(spark)}%.4f")
    if (args.trace) {
      val f = new File(args.work, s"trace-${args.workload}-${args.seed}.jsonl")
      tracer.write(f)
      info(s"spans written to $f")
    } else {
      out.metric("setup_s", Stats.median(setups.tail), "s")
      out.metric("heap_retained_mb", Jvm.retainedHeapMb, "MB")
    }
    workload.teardown()
    spark.stop()
    out.errorLines.foreach(e => info(s"ERROR $e"))
    println(out.json)
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}

/** One workload: bound once per set-up, then run once. */
trait Workload {
  def digest: String
  /** Size of the generated `events` table the workload reads. */
  def rows: Long = EventsData.Rows
  def users: Int = EventsData.Users
  def setup(spark: SparkSession, dataDir: String): Unit
  def run(spark: SparkSession, out: Outcome, tracer: Option[Tracer]): Unit
  def teardown(): Unit = ()
}
