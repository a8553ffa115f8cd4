package graft

import graft.functions.AvroFunctions
import graft.sources.InMemorySchemaRegistry
import graft.streaming.{EtlConfig, EtlSource, KafkaEtlPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-pipeline throughput: rows/sec through the reference's whole
  * product path — wire bytes → Avro decode → time-bucket → partitioned
  * snappy parquet (the batch queries BENCH times are the extension
  * surface; this is the ingest dataflow itself, measured end to end).
  *
  * The wire corpus is generated with our own `to_avro_bytes` (round-trip
  * verified in AvroSpec) and staged as parquet files, then consumed via
  * the file wire source — same decode + sink plan a Kafka source feeds,
  * no brokers needed (this image ships no Kafka jars).
  *
  * `Bench` reports it as `stream_rows_per_sec`; the steady-state ingest
  * benchmark is `perfbench/run.py --workload ingest_backlog`.
  */
object StreamBench {

  private[graft] val schema =
    """{"type":"record","name":"bench_event","fields":[
       {"name":"event_id","type":"long"},
       {"name":"ts","type":"long"},
       {"name":"event_type","type":"string"},
       {"name":"value","type":"double"},
       {"name":"payload","type":"string"}]}""".stripMargin

  /** Stage `n` wire records and run one AvailableNow pass of the full
    * pipeline; returns (rows, seconds). Staging is untimed (it plays the
    * role of the Kafka broker). */
  private[graft] def measure(spark: SparkSession, n: Long): (Long, Double) = {
    val topic = "bench-events"
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val wireDir = tmp("graft-sb-wire")
    val outDir = tmp("graft-sb-out")
    val ckptDir = tmp("graft-sb-ckpt")

    spark.range(n)
      .select(
        lit(topic).as("topic"),
        AvroFunctions.to_avro_bytes(struct(
          col("id").as("event_id"),
          (lit(1700000000000L) + (col("id") * 37) % 86400000).as("ts"), // spread over 24 hour buckets
          element_at(array(lit("view"), lit("click"), lit("buy")),
                     (pmod(col("id"), lit(3)) + 1).cast("int")).as("event_type"),
          (col("id") % 1000 / 10.0).as("value"),
          md5(col("id").cast("string")).as("payload")), schema).as("value"))
      .write.mode("overwrite").parquet(s"$wireDir/b0")

    val wire = spark.readStream
      .schema("topic STRING, value BINARY")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$wireDir/*")
    val cfg = EtlConfig(Seq(topic), EtlSource.Stream(wire), outDir, ckptDir,
      trigger = Trigger.AvailableNow(),
      eventTimeColumn = Some("ts"))
    val pipe = new KafkaEtlPipeline(spark, new InMemorySchemaRegistry(Map(topic -> schema)), cfg)

    val t0 = System.nanoTime()
    val Seq(q) = pipe.start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = spark.read.parquet(s"$outDir/$topic").count()
    require(rows == n, s"pipeline wrote $rows of $n rows")
    (rows, sec)
  }
}
