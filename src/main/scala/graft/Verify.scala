package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Each query runs under a per-query timeout (default 180 s, env
  * SPARK_GRAFT_QUERY_TIMEOUT_SEC) in its own job group: a pathological
  * plan gets its jobs cancelled and is reported as failed, instead of
  * hanging the whole round's correctness gate.
  */
object Verify {
  /** Analysis-only preflight: build every query's plan via `.schema` (no
    * execution) and return the queries that fail analysis. Round 6 shipped
    * 13 crashed queries because an analysis error only surfaced as a
    * shrunken correctness file; the preflight turns that into a named,
    * non-zero-exit failure BEFORE anything is dumped. Exposed for
    * PreflightSpec, which feeds it a deliberately-broken query.
    *
    * `perQueryTimeoutSec`: some builders legitimately run driver work at
    * plan construction (streaming gate passes, memoized index builds), so
    * the gate run bounds each build and treats a TIMEOUT as a pass — the
    * dump loop's own job-group timeout owns slowness; the preflight owns
    * analysis errors only. A timed-out builder may leave its thread
    * stuck, so the pool is rebuilt (the dump loop's pattern). */
  private[graft] def preflight(
      spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      perQueryTimeoutSec: Option[Long] = None)
      : Seq[(String, Throwable)] = perQueryTimeoutSec match {
    case None =>
      queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try { fn(spark, sfDir).schema; None }
        catch { case e: Throwable => Some(name -> e) }
      }
    case Some(limit) =>
      import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
      var pool = Executors.newSingleThreadExecutor()
      val broken = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val group = s"preflight-$name"
        val task = pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            // builders may run REAL driver work (streaming gate passes,
            // memoized index builds); own the jobs under a group so a
            // timeout can cancel them at the scheduler — thread
            // interruption alone does not reliably stop Spark driver
            // work, and a zombie build racing the dump loop's re-build
            // of the same query corrupts shared memoized artifacts
            spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
            try { fn(spark, sfDir).schema; () }
            finally spark.sparkContext.clearJobGroup()
          }
        })
        try { task.get(limit, TimeUnit.SECONDS); None }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(group)
            task.cancel(true)
            pool.shutdownNow()
            pool = Executors.newSingleThreadExecutor()
            System.err.println(
              s"[verify] preflight: $name build exceeded ${limit}s — " +
                "jobs cancelled; deferred to the dump loop's timeout")
            None
          case e: java.util.concurrent.ExecutionException =>
            Some(name -> Option(e.getCause).getOrElse(e))
          case e: Throwable => Some(name -> e)
        }
      }
      pool.shutdownNow()
      broken
  }

  /** Dump each query's result to `$outDir/<name>` under a per-query
    * timeout and its own job group, and return the names of the queries
    * that threw or timed out (sorted). Exposed for PreflightSpec.
    *
    * One worker thread per query lifetime: after a timeout the cancelled
    * task may keep the thread busy in a non-interruptible phase, so the
    * pool is rebuilt — the next query always starts on a fresh thread and
    * its timeout clock isn't charged for queue wait behind a stuck one. */
  private[graft] def dump(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      timeoutSec: Long): Seq[String] = {
    import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
    var pool = Executors.newSingleThreadExecutor()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      val task = pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          finally spark.sparkContext.clearJobGroup()
        }
      })
      try { task.get(timeoutSec, TimeUnit.SECONDS); None }
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          task.cancel(true)
          pool.shutdownNow()
          pool = Executors.newSingleThreadExecutor()
          System.err.println(s"[verify] $name failed: timeout after ${timeoutSec}s")
          Some(name)
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getCause match {
            case null => e.getMessage
            case c => c.getMessage
          }}")
          Some(name)
      }
    }
    pool.shutdownNow()
    failed.sorted
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "180").toLong
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()

    // Optional comma-separated query filter for fast local iteration
    // (e.g. SPARK_GRAFT_ONLY=q43_simhash,q45_ann_ivf); driver leaves it
    // unset and gets the full dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    // Stop-the-line gate: if ANY selected plan fails analysis, name every
    // failure and abort non-zero before dumping — a partial dump looks like
    // a green round with fewer queries (the round-6 failure mode).
    val broken = preflight(spark, sfDir, selected, Some(timeoutSec))
    if (broken.nonEmpty) {
      broken.foreach { case (name, e) =>
        System.err.println(s"[verify] PREFLIGHT FAILED $name: ${e.getMessage}")
      }
      System.err.println(
        s"[verify] aborting: ${broken.size}/${selected.size} plans fail analysis")
      spark.stop()
      sys.exit(2)
    }
    val failed = dump(spark, sfDir, outDir, selected, timeoutSec)

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dump only the oracles of the queries that ran: under the
    // SPARK_GRAFT_ONLY dev filter this avoids clobbering a previous full
    // dump's oracle file with entries the process can't generate (q45's
    // oracle embeds the codebook trained when the query runs). The dump
    // is dir-aware so generated oracles match THIS dataset's run.
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a runtime failure is a red run even though everything else was
    // written: exit 1 (preflight's analysis abort is 2)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] RED RUN: ${failed.size}/${selected.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
