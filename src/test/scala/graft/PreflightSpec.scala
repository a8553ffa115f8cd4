package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The analysis gate. Round 6's defining failure was a loader change that
  * made 13 declared queries fail ANALYSIS — and nothing red-flagged it
  * until the driver's correctness file silently shrank. `Verify.preflight`
  * builds every plan via `.schema` (no execution); this spec pins that
  * (a) a broken plan is reported BY NAME, (b) healthy plans pass, and
  * (c) the full declared query surface analyzes clean right now.
  */
class PreflightSpec extends SparkTestBase {

  private val good: (SparkSession, String) => DataFrame =
    (s, d) => Tables.events(s, d).groupBy("event_type").count()
  private val brokenCol: (SparkSession, String) => DataFrame =
    (s, d) => Tables.events(s, d).select(col("no_such_column"))
  private val brokenType: (SparkSession, String) => DataFrame =
    // the round-6 bug itself: integral `div` over a TIMESTAMP column
    // (strings would implicitly cast in non-ANSI mode; timestamps don't)
    (s, d) => Tables.events(s, d).select(expr("ts div 1000"))

  test("preflight names exactly the broken plans and passes the healthy one") {
    val out = Verify.preflight(spark, sfDir,
      Map("ok" -> good, "bad_col" -> brokenCol, "bad_type" -> brokenType))
    assert(out.map(_._1) == Seq("bad_col", "bad_type"))
    assert(out.forall(_._2.getMessage != null))
  }

  test("timed preflight: analysis errors still named; a slow builder is NOT a failure") {
    val slow: (SparkSession, String) => DataFrame =
      (s, d) => { Thread.sleep(5000); Tables.events(s, d).limit(1) }
    val out = Verify.preflight(spark, sfDir,
      Map("ok" -> good, "bad_col" -> brokenCol, "slow" -> slow),
      perQueryTimeoutSec = Some(1L))
    assert(out.map(_._1) == Seq("bad_col"),
      "only the analysis error fails; the timeout defers to the dump loop")
  }

  test("dump names exactly the query that throws at runtime") {
    val boom = udf((n: Long) => { if (n >= 0) sys.error("boom"); n })
    // analyzes clean, so only the dump loop can catch it
    val throwsAtRuntime: (SparkSession, String) => DataFrame =
      (s, d) => Tables.events(s, d).select(boom(col("event_id")).as("x"))
    val out = java.nio.file.Files.createTempDirectory("graft-dump").toString
    val failed = Verify.dump(spark, sfDir, out,
      Map("ok" -> good, "throws" -> throwsAtRuntime), timeoutSec = 120L)
    assert(failed == Seq("throws"))
    assert(spark.read.parquet(s"$out/ok").count() > 0)
  }

  test("every declared query plan analyzes clean") {
    val out = Verify.preflight(spark, sfDir, SparkEntry.queries)
    assert(out.isEmpty, "plans failing analysis: " +
      out.map { case (n, e) => s"$n (${e.getMessage.linesIterator.next()})" }
        .mkString("; "))
  }
}
