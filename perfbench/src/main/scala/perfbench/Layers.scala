package perfbench

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer a workload does not exercise reads as its measured zero. */
object Layers {

  /** Rebuild each micro-batch of `events` as a span under `parent`, with
    * its phases as children laid end to end in the order
    * MicroBatchExecution runs them (progress reports their durations,
    * not their start times). */
  def batchSpans(ctx: Ctx, events: Seq[ProgressLog.Event], parent: Int): Unit = {
    val t = ctx.tracer
    ProgressLog.batches(events).foreach { e =>
      val start = batchStartNs(ctx, e)
      val dur = (ProgressLog.ms(e.p, "triggerExecution") * 1e6).toLong
      val id = t.add(s"batch-${e.p.batchId}", "batch", parent, start, start + dur)
      var at = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { k =>
        val d = (ProgressLog.ms(e.p, k) * 1e6).toLong
        t.add(k, "batch-phase", id, at, at + d)
        at += d
      }
    }
  }

  /** When a micro-batch started, on the tracer's clock. */
  def batchStartNs(ctx: Ctx, e: ProgressLog.Event): Long =
    ctx.tracer.nsOfEpochMs(ProgressLog.epochMs(e.p))

  /** `batch.*` and `state.*` from the micro-batches of the traced units. */
  def batches(ctx: Ctx, events: Seq[ProgressLog.Event]): Unit = {
    val r = ctx.res
    val bs = ProgressLog.batches(events)
    def p50(f: ProgressLog.Event => Double): Double =
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    r.put("batch.trigger_s.p50", p50(e => ProgressLog.ms(e.p, "triggerExecution") / 1000), "s")
    ProgressLog.Phases.foreach { k =>
      r.put(s"batch.${k}_s.p50", p50(e => ProgressLog.ms(e.p, k) / 1000), "s")
    }
    r.put("batch.rows.p50", p50(_.p.numInputRows.toDouble), "rows")
    r.put("batch.count", bs.size.toDouble, "count")
    val trig = bs.map(e => ProgressLog.ms(e.p, "triggerExecution")).sum
    val phases = bs.map(e => ProgressLog.Phases.map(ProgressLog.ms(e.p, _)).sum).sum
    r.put("batch.residual_frac", if (trig > 0) (trig - phases) / trig else 0.0, "ratio")
    val ops = bs.flatMap(_.p.stateOperators)
    r.put("state.commit_s", ops.map(_.commitTimeMs).sum / 1000.0, "s")
    r.put("state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "rows")
    r.put("state.memory_bytes",
      if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble, "bytes")
  }

  /** `exec.*`: executor work counted during the traced units, whose wall
    * time is `wallS`. */
  def exec(ctx: Ctx, wallS: Double): Unit = {
    val r = ctx.res
    val a = ctx.tasks.total
    r.put("exec.cpu_s", a.cpuNs / 1e9, "s")
    r.put("exec.gc_s", a.gcMs / 1000.0, "s")
    r.put("exec.tasks", a.tasks.toDouble, "count")
    r.put("exec.cpu_util", if (wallS > 0) a.cpuNs / 1e9 / (wallS * ctx.args.cores) else 0.0,
      "ratio")
    r.put("exec.shuffle_bytes", a.shuffleBytes.toDouble, "bytes")
    r.put("exec.spill_bytes", a.spillBytes.toDouble, "bytes")
  }

  /** `self.unit_s`: time inside the traced units not covered by their
    * child spans (query build and execution, or micro-batches), and
    * `self.unit_frac`, its share of the units' wall time. */
  def selfTime(ctx: Ctx, unitLayer: String): Unit = {
    val units = ctx.tracer.byLayer(unitLayer)
    val self = units.map(ctx.tracer.selfSeconds).sum
    val wall = units.map(_.seconds).sum
    ctx.res.put("self.unit_s", self, "s")
    ctx.res.put("self.unit_frac", if (wall > 0) self / wall else 0.0, "ratio")
  }

  /** `trace.overhead_frac`: traced over untraced cost of the same unit. */
  def overhead(ctx: Ctx, traced: Seq[Double], untraced: Seq[Double]): Unit = {
    val v = if (traced.isEmpty || untraced.isEmpty) 0.0
            else Stats.median(traced) / Stats.median(untraced) - 1
    ctx.res.put("trace.overhead_frac", v, "ratio")
  }
}
