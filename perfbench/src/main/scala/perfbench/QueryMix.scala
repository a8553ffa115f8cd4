package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** query_mix: registry queries run by one client in a closed loop. A
  * cold pass runs each query once in declared order, first in a fresh
  * session (this is where session-shared artifacts are built). The JVM's
  * first pass stores each result as Snappy Parquet; an untimed check
  * compares the stored results with the goldens. Warm passes run in
  * orders drawn from the seed, each query materialized with a `noop`
  * write, as many as the run's seconds call for. Kernels and query plans
  * do all their work here and none in the ingest workload. */
object QueryMix {

  /** The queries, with the layer each one covers. */
  val Queries: Seq[String] = Seq(
    "q20_ingest_bucket",      // batch form of the reference dataflow
    "q85_token_rarity",       // text kernels
    "q79_minhash_est",        // similarity kernels, large materialized output
    "q170_dedup_stream",      // StreamGate gate: streaming dedup with state
    "q251_release_diff")      // SessionMemo artifact builder

  /** A query's result reduced to its row count and an order-independent
    * hash. Floating-point values are compared to 9 significant digits, so
    * that a different summation order does not change the hash. */
  final case class Digest(rows: Long, hash: Long)

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def digest(df: DataFrame): Digest = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(pmod(xxhash64(cols: _*), lit(Corpus.HashMod)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  def loadGoldens(path: String): Map[String, Digest] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val text = try src.mkString finally src.close()
    val re = "\"(q[0-9a-z_]+)\": \\{\"rows\": (-?[0-9]+), \"hash\": (-?[0-9]+)\\}".r
    re.findAllMatchIn(text).map(m => m.group(1) -> Digest(m.group(2).toLong, m.group(3).toLong))
      .toMap
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val res = ctx.res
    val dir = s"${a.home}/data/sf0.01"
    val fns = Queries.map(q => q -> SparkEntry.queries(q)).toMap

    // warm-up: the largest tables scanned once; no query and no artifact
    // is touched
    ctx.setup(3) { () =>
      Seq("lineitem", "events", "documents").foreach { t =>
        ctx.spark.read.parquet(s"$dir/$t.parquet").write.format("noop").mode("overwrite").save()
      }
    }

    val failures = mutable.Set.empty[String]
    var failedOps = 0L
    def fail(q: String, why: String): Unit = {
      res.lines += s"query $q $why"
      failures += q
      failedOps += 1
    }
    val outRows = mutable.Map.empty[String, Long]

    /** One timed query: the query-function call plus the write of its
      * result, to `noop` or, on the first cold pass, to Snappy Parquet under
      * `store`. In a traced unit the call is split: build (the call plus
      * `executedPlan`, which includes eager artifact builds and a gate's
      * streaming run) and exec (the write). */
    final case class Timing(total: Double, build: Double, exec: Double)
    def timed(q: String, traced: Boolean, store: Option[String] = None): Option[Timing] =
      try Some(ctx.unit(q, "query", traced) {
        val t0 = System.nanoTime()
        val df = ctx.tracer.span("build", "build") {
          val df = fns(q)(ctx.spark, dir)
          if (ctx.tracer.on) df.queryExecution.executedPlan
          df
        }
        val t1 = System.nanoTime()
        ctx.tracer.span("exec", "exec")(store match {
          case Some(path) =>
            df.write.mode("overwrite").option("compression", "snappy").parquet(path)
          case None => df.write.format("noop").mode("overwrite").save()
        })
        val t2 = System.nanoTime()
        Timing((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }) catch {
        case e: Exception =>
          fail(q, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }

    // The JVM's first pass: each query once, in declared order, first in
    // the set-up's session. It keeps each result, so that checking it
    // needs no second run of the query. It also pays for compiling the
    // JVM's code, so it is printed but not counted.
    def stored(q: String) = s"${a.work}/results/$q"
    def coldPass(store: Boolean) =
      Queries.map(q => q -> timed(q, traced = false, Some(stored(q)).filter(_ => store))).toMap
    val first = coldPass(store = true)

    // untimed check: row count and order-independent hash of each stored
    // result, compared with the goldens
    val goldens = if (a.writeGoldens.isDefined) Map.empty[String, Digest]
                  else loadGoldens(s"${a.home}/goldens.json")
    var outBytes = 0L
    var outFiles = 0L
    val digests = Queries.map { q =>
      val d = first(q).flatMap { _ =>
        try {
          val df = ctx.spark.read.parquet(stored(q))
          val files = df.inputFiles.toSeq.map(f => new java.io.File(new java.net.URI(f)).length)
          outBytes += files.sum
          outFiles += files.size
          Some(digest(df))
        } catch {
          case e: Exception =>
            fail(q, s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
      d.foreach(x => outRows(q) = x.rows)
      val ok = d.isDefined && (a.writeGoldens.isDefined || goldens.get(q) == d)
      if (d.isDefined && !ok) fail(q, "does not match its golden")
      res.lines += s"golden $q ${if (ok) "ok" else "MISMATCH"} got=${d.getOrElse("-")} " +
        s"want=${goldens.getOrElse(q, "-")}"
      q -> d
    }
    a.writeGoldens.foreach { path =>
      val body = digests.collect { case (q, Some(d)) =>
        s"""    "$q": {"rows": ${d.rows}, "hash": ${d.hash}}""" }.mkString(",\n")
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(s"{\n  \"data\": \"sf0.01\",\n  \"queries\": {\n$body\n  }\n}")
      finally w.close()
    }

    val rnd = new scala.util.Random(a.seed)
    val warm = mutable.Map.empty[String, mutable.ArrayBuffer[Timing]]
    val warmTraced = mutable.Map.empty[String, mutable.ArrayBuffer[Timing]]
    val passS = mutable.ArrayBuffer.empty[Double]
    /** One warm pass, in an order drawn from the seed; pass -1 is a
      * warm-up and is not counted. A traced run traces each query in every
      * other counted pass, half of the queries in even passes and half in
      * odd ones. */
    def warmPass(pass: Int): Unit = {
      val p0 = System.nanoTime()
      rnd.shuffle(Queries).foreach { q =>
        val traced = a.trace && pass >= 0 && (Queries.indexOf(q) + pass) % 2 == 0
        timed(q, traced).foreach { t =>
          if (pass >= 0)
            (if (traced) warmTraced else warm).getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t
        }
      }
      passS += ctx.secondsSince(p0)
    }
    // Two warm-up passes: one here, in the first session, so that the code
    // both the cold and the warm passes run is compiled before either is
    // counted, and one in the session of the counted warm passes, because
    // a query's first runs after its cold run in a session are still slower.
    warmPass(-1)

    // the counted cold pass: the first pass of a fresh session, writing to
    // `noop` as the warm passes do
    ctx.stopSession()
    ctx.startSession()
    val cold = coldPass(store = false)
    res.lines += "cold passes_s " + Seq(first, cold).map(c =>
      f"${c.values.flatten.map(_.total).sum}%.3f").mkString(" ") + " (the first not counted)"

    // counted warm passes, in the counted cold pass's session. Passes still
    // get a little faster as they go, so their number is fixed by the
    // run's seconds, not by how many fit: a faster host then does not also
    // move the median to later passes. A pass takes 2.5-3.5 s on 4 cores.
    warmPass(-1)
    val counted = math.max(3, math.round(a.seconds / 2.5).toInt)
    for (pass <- 0 until counted) warmPass(pass)
    res.lines += "warm passes_s " + passS.map(v => f"$v%.3f").mkString(" ") +
      " (the first two, warm-ups, not counted)"
    // queries are attempted once per pass, warm-ups included, plus the two
    // cold passes and the check
    ctx.res.check("queries", Queries.size.toLong * (counted + 2 + 2 + 1), failedOps,
      if (failures.isEmpty) "" else failures.toSeq.sorted.mkString("failed: ", ", ", ""))

    val ok = Queries.filter(q => warm.contains(q) && first(q).isDefined && cold(q).isDefined)
    val med = ok.map(q => q -> Stats.median(warm(q).map(_.total).toSeq)).toMap
    val coldS = ok.map(q => q -> cold(q).get.total).toMap
    res.put("warm_s", med.values.sum, "s")
    res.put("warm_geomean_s", Stats.geomean(med.values.toSeq), "s")
    res.put("cold_s", coldS.values.sum, "s")
    res.put("rows_per_s", ok.map(outRows.getOrElse(_, 0L)).sum / med.values.sum, "rows/s")
    res.put("out_bytes_per_row", outBytes.toDouble / math.max(1L, outRows.values.sum), "bytes")
    ok.foreach { q =>
      def list(ts: Seq[Timing]) = ts.map(t => f"${t.total}%.3f").mkString(",")
      res.lines += f"query $q%-24s cold_s=${coldS(q)}%.3f warm_s=${med(q)}%.3f " +
        f"rows=${outRows.getOrElse(q, 0L)} (JVM's first ${list(Seq(first(q).get))}; " +
        f"warm ${list(warm(q).toSeq)})"
    }

    if (a.trace) {
      val tr = ok.filter(warmTraced.contains)
      def tmed(q: String, f: Timing => Double) = Stats.median(warmTraced(q).map(f).toSeq)
      val spans = ctx.tracer.byLayer("query")
      tr.foreach { q =>
        val c = ctx.tasks.get(q)
        res.lines += f"layer q.$q%-24s build_s=${tmed(q, _.build)}%.3f exec_s=${tmed(q, _.exec)}%.3f " +
          f"cold_extra_s=${coldS(q) - med(q)}%.3f cpu_s(all traced)=${c.cpuNs / 1e9}%.3f " +
          f"shuffle_bytes=${c.shuffleBytes} spill_bytes=${c.spillBytes} tasks=${c.tasks}"
      }
      val traceWall = spans.map(_.seconds).sum
      // the micro-batches of gate streams that traced queries started
      val events = ctx.progress.all.flatMap { e =>
        val at = Layers.batchStartNs(ctx, e)
        spans.find(s => at >= s.startNs && at <= s.endNs).map(s => (e, s.id))
      }
      events.groupBy(_._2).foreach { case (id, es) => Layers.batchSpans(ctx, es.map(_._1), id) }
      Layers.batches(ctx, events.map(_._1))
      Layers.exec(ctx, traceWall)
      Layers.selfTime(ctx, "query")
      val both = tr.filter(warm.contains)
      Layers.overhead(ctx, Seq(both.map(tmed(_, _.total)).sum), Seq(both.map(med).sum))
      res.put("query.build_s", tr.map(tmed(_, _.build)).sum, "s")
      res.put("query.exec_s", tr.map(tmed(_, _.exec)).sum, "s")
      res.put("query.cold_extra_s", res.metrics("cold_s")._1 - res.metrics("warm_s")._1, "s")
      res.put("out.files", outFiles.toDouble, "count")
      res.put("out.bytes", outBytes.toDouble, "bytes")
      res.put("gen_s", 0.0, "s")
      Ingest.probes(ctx, Ingest.probeCorpus(ctx, Corpus.Hourly), Corpus.Hourly)
    }
  }
}
