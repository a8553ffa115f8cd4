package perfbench

import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable.ArrayBuffer

/** ingest_backlog: a consumer restarting behind a backlog. Each timed
  * drain runs the pipeline with an AvailableNow trigger over the whole
  * staged corpus into a fresh output and checkpoint, so every drain
  * replays the same backlog; drains repeat until the run's seconds are
  * spent. This is the workload where decoder and sink changes show. */
object IngestBacklog {
  val Partitions = 4
  val RowsPerFile = 20000
  val Slices = 2
  val FilesPerTrigger = 4

  /** First event time of a seed's corpus: seeds shift it by whole hours. */
  def startMs(seed: Long): Long = 1700000000000L + Math.floorMod(seed, 1000L) * 3600000L

  private final case class Drain(seconds: Double, startS: Double, batches: Seq[ProgressLog.Event],
                                 firstCommitS: Double, out: Ingest.Output)

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val res = ctx.res
    val grain = Corpus.Hourly

    val tGen = System.nanoTime()
    val wireDir = s"${a.work}/wire"
    // 54 ms between events: the corpus spans a few hourly buckets
    val exp = Ingest.stageWire(wireDir, () => new EventGen(a.seed, startMs(a.seed), 54),
      Slices, Partitions, RowsPerFile, grain)
    val genS = ctx.secondsSince(tGen)
    res.lines += f"generator gen_s=$genS%.3f"

    def drain(dir: String, out: String): Drain = {
      val spark = ctx.spark
      val wire = spark.readStream.schema("topic STRING, value BINARY")
        .option("maxFilesPerTrigger", FilesPerTrigger.toString).parquet(dir)
      val pipe = Ingest.pipeline(ctx, wire, out, Trigger.AvailableNow(), grain)
      val t0 = System.nanoTime()
      val Seq(q) = pipe.start()
      val started = ctx.secondsSince(t0)
      q.awaitTermination()
      val sec = ctx.secondsSince(t0)
      ctx.awaitListeners()
      val events = ctx.progress.forRun(q.runId)
      val bs = ProgressLog.batches(events).sortBy(_.p.batchId)
      if (ctx.tracer.on) Layers.batchSpans(ctx, events, ctx.tracer.current)
      // the first commit is visible when its batch's progress event arrives
      val firstCommit = bs.headOption.map(e => (e.arrivalNs - t0) / 1e9).getOrElse(sec)
      Drain(sec, started, bs, firstCommit, Ingest.Output(bs.map(_.p.numInputRows).sum, 0, 0))
    }

    // the warm-up is one untimed drain of the whole backlog
    ctx.setup(3) { () =>
      val out = s"${a.work}/warm-out"
      drain(wireDir, out)
      Ingest.deleteTree(out)
    }

    val drains = ArrayBuffer.empty[(Drain, Boolean)]
    // The run's seconds fix the number of drains (a drain and its check
    // take 3-5 s on 4 cores), so that a faster or slower host does not
    // change how many samples the medians take; at least three, and at
    // least four in a traced run, traced and untraced in the order
    // T U U T, so that warming up over the run does not bias the overhead.
    val n = math.max(if (a.trace) 4 else 3, math.round(a.seconds / 2.5).toInt)
    for (i <- 0 until n) {
      val traced = i % 4 == 0 || i % 4 == 3
      val out = s"${a.work}/out-$i"
      val d = ctx.unit(s"drain-$i", "drain", traced)(drain(wireDir, out))
      val tc = System.nanoTime()
      val o = Ingest.check(ctx, s"drain-$i", out, exp, grain)
      res.lines += f"check drain-$i took ${ctx.secondsSince(tc)}%.3f s"
      drains += ((d.copy(out = o), traced))
      Ingest.deleteTree(out)
    }

    // In a traced run only the untraced drains give end-to-end numbers.
    val plain = drains.filter { case (_, tr) => !a.trace || !tr }.map(_._1).toSeq
    res.put("rows_per_s", Stats.median(plain.map(d => d.out.rows / d.seconds)), "rows/s")
    res.put("out_bytes_per_row",
      Stats.median(plain.map(d => d.out.bytes.toDouble / d.out.rows)), "bytes")
    res.put("cold_s", Stats.median(plain.map(_.firstCommitS)), "s")
    val warm = plain.flatMap(_.batches.drop(1).map(e =>
      ProgressLog.ms(e.p, "triggerExecution") / 1000))
    res.put("warm_s", Stats.median(warm), "s")
    res.put("warm_geomean_s", Stats.geomean(warm), "s")
    res.lines += "drains_s " + drains.map { case (d, tr) =>
      f"${d.seconds}%.3f${if (a.trace && tr) "*" else ""}" }.mkString(" ") +
      (if (a.trace) "  (* traced)" else "")

    if (a.trace) {
      val traced = drains.filter(_._2).map(_._1).toSeq
      Layers.batches(ctx, traced.flatMap(_.batches))
      Layers.exec(ctx, traced.map(_.seconds).sum)
      Layers.selfTime(ctx, "drain")
      Layers.overhead(ctx, traced.map(_.seconds), plain.map(_.seconds))
      res.put("query.build_s", traced.map(_.startS).sum, "s")
      res.put("query.exec_s", traced.map(d => d.seconds - d.startS).sum, "s")
      res.put("query.cold_extra_s", res.metrics("cold_s")._1 - res.metrics("warm_s")._1, "s")
      res.put("out.files", Stats.median(drains.map(_._1.out.files.toDouble).toSeq), "count")
      res.put("out.bytes", Stats.median(drains.map(_._1.out.bytes.toDouble).toSeq), "bytes")
      res.put("gen_s", genS, "s")
      Ingest.probes(ctx, wireDir, grain)
    }
  }
}
