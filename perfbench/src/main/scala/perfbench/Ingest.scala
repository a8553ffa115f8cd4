package perfbench

import graft.functions.AvroFunctions
import graft.sources.InMemorySchemaRegistry
import graft.streaming.{EtlConfig, EtlSource, KafkaEtlPipeline}
import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

/** What the ingest workloads share: the pipeline as a user builds it, the
  * output checks and the layer probes. */
object Ingest {

  /** The reference dataflow through the program's public API: one topic,
    * event-time buckets from `baseProperties.timestamp`. */
  def pipeline(ctx: Ctx, wire: DataFrame, out: String, trigger: Trigger,
               grain: Corpus.Grain): KafkaEtlPipeline =
    new KafkaEtlPipeline(ctx.spark,
      new InMemorySchemaRegistry(Map(Corpus.Topic -> Corpus.schemaJson)),
      EtlConfig(Seq(Corpus.Topic), EtlSource.Stream(wire), s"$out/data", s"$out/ckpt",
        trigger = trigger, eventTimeColumn = Some("baseProperties.timestamp"),
        dateFormat = grain.dateFormat))

  /** Committed output of a pipeline run: rows and Parquet files/bytes. */
  final case class Output(rows: Long, files: Long, bytes: Long)

  /** Check the committed output under `out` against `exp`: per time
    * bucket, the row count and the checksum of (itemId, price, timestamp)
    * must equal the generator's, and the partition directories on disk
    * must be exactly the expected buckets. A missing or duplicated row
    * changes its bucket's count or checksum; each such row counts as one
    * failure. */
  def check(ctx: Ctx, what: String, out: String, exp: Expected,
            grain: Corpus.Grain): Output = {
    val spark = ctx.spark
    val dir = s"$out/data/${Corpus.Topic}"
    val df = spark.read.parquet(dir)
    val got = df
      .select(regexp_extract(input_file_name(), grain.pathRegex, 0).as("b"),
        pmod(xxhash64(col("itemId"), col("price"), col("baseProperties.timestamp")),
          lit(Corpus.HashMod)).as("h"))
      .groupBy("b").agg(count(lit(1)).as("n"), sum("h").as("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val onDisk = bucketDirs(new File(dir), grain.dateFormat.split("/").length)
    var bad = 0L
    (exp.buckets.keySet ++ got.keySet).foreach { b =>
      val (en, eh) = exp.buckets.getOrElse(b, (0L, 0L))
      val (gn, gh) = got.getOrElse(b, (0L, 0L))
      if (gn != en) bad += math.abs(gn - en)
      else if (gh != eh) bad += math.max(en, 1L)
    }
    val dirsBad = (onDisk -- exp.buckets.keySet).size + (exp.buckets.keySet -- onDisk).size
    val files = df.inputFiles.toSeq
    val bytes = files.map(f => new File(new java.net.URI(f)).length).sum
    val rows = got.values.map(_._1).sum
    ctx.res.check(what, exp.rows + exp.buckets.size, bad + dirsBad,
      s"rows=$rows expected=${exp.rows} buckets=${got.size}/${exp.buckets.size} " +
        s"dirs=${onDisk.size}")
    Output(rows, files.size, bytes)
  }

  private def bucketDirs(root: File, depth: Int): Set[String] = {
    def walk(f: File, prefix: String, d: Int): Seq[String] =
      if (d == 0) Seq(prefix)
      else Option(f.listFiles()).toSeq.flatten
        .filter(c => c.isDirectory && c.getName.contains("="))
        .flatMap(c => walk(c, if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}", d - 1))
    walk(root, "", depth).toSet
  }

  /** Stage `slices` x `partitions` wire files of `rowsPerFile` records each
    * under `dir`, one generator thread per partition. Slice s of partition
    * p holds the records k of that slice with k % partitions == p, in time
    * order; modification times follow (slice, partition), so the file
    * source replays them in event-time order. Returns the expected output
    * per bucket. */
  def stageWire(dir: String, gen: () => EventGen, slices: Int, partitions: Int,
                rowsPerFile: Int, grain: Corpus.Grain): Expected = {
    new File(dir).mkdirs()
    val perSlice = partitions.toLong * rowsPerFile
    val parts = (0 until partitions).map { p =>
      val exp = new Expected(grain)
      val th = new Thread(() => {
        val g = gen()
        for (s <- 0 until slices) {
          val path = f"$dir/s$s%03d-p$p.parquet"
          val events = (p.toLong until perSlice by partitions.toLong)
            .map(i => g.event(s * perSlice + i))
          events.foreach(exp.add)
          Corpus.writeWire(path, events.iterator)
          java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(path),
            java.nio.file.attribute.FileTime.fromMillis(1600000000000L + s * 1000L + p))
        }
      }, s"perfbench-stage-$p")
      th.start()
      (th, exp)
    }
    parts.foreach(_._1.join())
    val exp = new Expected(grain)
    parts.foreach(_._2.buckets.foreach { case (b, (n, h)) =>
      val (n0, h0) = exp.buckets.getOrElse(b, (0L, 0L))
      exp.buckets(b) = (n0 + n, h0 + h)
    })
    exp
  }

  /** The three layer probes over the wire files in `wireDir`, outside any
    * pipeline run: wire scan → noop (`source.rows_per_s`), decode of the
    * cached wire rows → noop (`decode.rows_per_s`), and the cached decoded
    * rows → Snappy Parquet partitioned like the pipeline's output
    * (`sink.rows_per_s`). */
  def probes(ctx: Ctx, wireDir: String, grain: Corpus.Grain): Unit = {
    val spark = ctx.spark
    def timed(name: String)(f: => Unit): Double = ctx.unit(name, "probe", traced = true) {
      val t0 = System.nanoTime(); f; ctx.secondsSince(t0)
    }
    val wire = spark.read.parquet(wireDir)
    val rows = wire.count().toDouble
    val src = timed("probe.source")(wire.write.format("noop").mode("overwrite").save())
    val cached = wire.persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    val decode = cached.select(AvroFunctions.from_avro_bytes(col("value"), Corpus.schemaJson)
      .as("e")).select("e.*")
    val dec = timed("probe.decode")(decode.write.format("noop").mode("overwrite").save())
    val ts = to_timestamp(col("baseProperties.timestamp") / 1000.0)
    val names = Seq("dt", "hour", "minute").take(grain.dateFormat.split("/").length)
    val bucketed = names.zip(grain.dateFormat.split("/")).foldLeft(decode) {
      case (df, (n, f)) => df.withColumn(n, date_format(ts, f)) }
      .persist(StorageLevel.MEMORY_ONLY)
    bucketed.count()
    cached.unpersist(blocking = true)
    val sinkDir = s"${ctx.args.work}/probe-sink"
    val sink = timed("probe.sink")(bucketed.write.mode("overwrite").partitionBy(names: _*)
      .option("compression", "snappy").parquet(sinkDir))
    bucketed.unpersist(blocking = true)
    ctx.res.put("source.rows_per_s", rows / src, "rows/s")
    ctx.res.put("decode.rows_per_s", rows / dec, "rows/s")
    ctx.res.put("sink.rows_per_s", rows / sink, "rows/s")
  }

  /** The probe corpus of the workloads that have no wire files of their
    * own: one slice of the backlog's shape, from the run's seed. */
  def probeCorpus(ctx: Ctx, grain: Corpus.Grain): String = {
    val dir = s"${ctx.args.work}/probe-wire"
    stageWire(dir, () => new EventGen(ctx.args.seed ^ 0x5eed, IngestBacklog.startMs(ctx.args.seed),
      54), 1, IngestBacklog.Partitions, IngestBacklog.RowsPerFile, grain)
    dir
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }
}
