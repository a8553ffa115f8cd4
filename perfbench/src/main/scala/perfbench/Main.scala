package perfbench

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command line of one benchmark run (see perfbench/run.py, which builds
  * the program and starts this JVM). `home` is the benchmark's directory,
  * `work` a scratch directory the run may fill, `out` the result file. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, work: String, home: String, out: String,
                      writeGoldens: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("work"), m("home"), m("out"), m.get("write-goldens"))
  }
}

/** What a run reports: metrics by name with their unit, the operations it
  * attempted and how many failed, and detail lines for the log. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val lines = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count `n` attempted operations of which `bad` failed. */
  def check(what: String, n: Long, bad: Long, detail: String = ""): Unit = {
    attempted += n
    failed += bad
    lines += f"check $what%-28s ${if (bad == 0) "ok" else "FAILED"} ($bad of $n failed)" +
      (if (detail.isEmpty) "" else s" $detail")
  }

  def json: String = Json.obj(Seq(
    "attempted" -> Json.num(attempted),
    "failed" -> Json.num(failed),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
    "lines" -> Json.arr(lines.toSeq.map(Json.str))))
}

/** State shared by a run: the session, the listeners and the tracer. */
final class Ctx(val args: Args) {
  val tracer = new Tracer
  val progress = new ProgressLog
  val tasks = new TaskCounters
  val res = new Result
  var spark: SparkSession = _

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.graft.workDir", s"${args.work}/graft-work")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(progress)
  }

  def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Session start plus the workload's warm-up, `reps` times, each in a
    * fresh session; the last session is kept. The median of the reps is
    * `setup_s`. */
  def setup(reps: Int)(warm: () => Unit): Unit = {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    for (r <- 1 to reps) {
      if (r > 1) stopSession()
      val t0 = System.nanoTime()
      startSession()
      sessionS += secondsSince(t0)
      warm()
      setupS += secondsSince(t0)
      progress.clear()
    }
    res.put("setup_s", Stats.median(setupS.toSeq), "s")
    res.lines += "setup reps_s " + setupS.map(v => f"$v%.3f").mkString(" ") +
      " (session start_s " + sessionS.map(v => f"$v%.3f").mkString(" ") + ")"
  }

  /** Run `f` as one timed unit; in a traced run, traced and untraced
    * units alternate (`traced`), and only traced units record spans and
    * executor counters. */
  def unit[T](name: String, layer: String, traced: Boolean)(f: => T): T = {
    val sc = spark.sparkContext
    val on = args.trace && traced
    if (on) { sc.addSparkListener(tasks); sc.setLocalProperty(TaskCounters.Label, name) }
    tracer.on = on
    try tracer.span(name, layer)(f)
    finally {
      tracer.on = false
      if (on) {
        sc.setLocalProperty(TaskCounters.Label, null)
        awaitListeners()
        sc.removeSparkListener(tasks)
      }
    }
  }

  def awaitListeners(): Unit = BenchBridge.awaitListeners(spark.sparkContext)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    args.workload match {
      case "ingest_backlog" => IngestBacklog.run(ctx)
      case "query_mix"      => QueryMix.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (args.trace) ctx.tracer.write(args.out.stripSuffix(".json") + ".spans.jsonl")
    if (ctx.spark != null) ctx.stopSession()
    val w = new java.io.PrintWriter(args.out, "UTF-8")
    try w.println(ctx.res.json) finally w.close()
  }
}
