package graft

import org.apache.spark.sql.SparkSession

/** The one session factory the mains (`Bench`, `Verify`, `Inspect`,
  * `ScaleGen`) share, so a run's core count, shuffle width and time zone
  * cannot drift between tools.
  */
object GraftSession {
  /** `local[$SPARK_GRAFT_CPUS]` (default 4, the BASELINE.md contract),
    * one shuffle partition per core, UTC, UI off, WARN logging. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
