package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One generated ItemViewEvent: the wire bytes and the fields the output
  * checks read back. */
final case class Event(itemId: String, price: Long, ts: Long, bytes: Array[Byte])

/** Seeded ItemViewEvent records, encoded with Avro's own
  * `GenericDatumWriter` rather than the program's encoder, so that a bug
  * shared by the program's encode/decode pair cannot cancel out. Records
  * are time-ordered: `ts(k) = t0 + k * stepMs`. Record k depends only on
  * (seed, k), so records can be made in any order and on several threads
  * (one generator per thread). */
final class EventGen(seed: Long, t0: Long, stepMs: Double) {
  private val schema = new Schema.Parser().parse(Corpus.schemaJson)
  private val baseSchema = schema.getField("baseProperties").schema()
  private val writer = new GenericDatumWriter[GenericRecord](schema)
  private var rnd: java.util.SplittableRandom = _
  private val buf = new java.io.ByteArrayOutputStream(2048)
  private var enc: BinaryEncoder = _

  private def pick(xs: IndexedSeq[String]): String = xs(rnd.nextInt(xs.length))
  private def words(lo: Int, hi: Int): String =
    Seq.fill(lo + rnd.nextInt(hi - lo + 1))(pick(Corpus.Words)).mkString(" ")
  private def maybe(p: Double)(v: => String): String = if (rnd.nextDouble() < p) null else v

  def event(k: Long): Event = {
    rnd = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + k)
    val ts = t0 + (k * stepMs).toLong
    val item = rnd.nextInt(50000)
    val itemId = s"item-$seed-$k"
    val price = 100L + rnd.nextInt(500000)
    val base = new GenericData.Record(baseSchema)
    base.put("eventType", "item-view-event")
    base.put("timestamp", ts)
    base.put("url", s"https://shop.example/item/$item")
    base.put("referer", maybe(0.3)(s"https://search.example/q?w=${pick(Corpus.Words)}"))
    base.put("uid", s"u${rnd.nextInt(200000)}")
    base.put("pcid", f"pc${rnd.nextLong() & 0xffffffffL}%08x")
    base.put("serviceId", s"svc-${rnd.nextInt(20)}")
    base.put("version", s"1.${rnd.nextInt(5)}.${rnd.nextInt(10)}")
    base.put("deviceType", pick(Corpus.Devices))
    base.put("domain", "shop.example")
    base.put("site", pick(Corpus.Sites))
    val rec = new GenericData.Record(schema)
    rec.put("baseProperties", base)
    rec.put("itemId", itemId)
    rec.put("categoryId", s"cat-${item % 400}")
    rec.put("brandId", maybe(0.1)(s"brand-${item % 900}"))
    rec.put("itemType", pick(Corpus.ItemTypes))
    rec.put("promotionId", maybe(0.7)(s"promo-${rnd.nextInt(60)}"))
    rec.put("price", price)
    rec.put("itemTitle", words(3, 8))
    rec.put("itemDescription", maybe(0.2)(words(10, 30)))
    rec.put("thumbnailUrl", s"https://img.example/$item.jpg")
    rec.put("tags", Seq.fill(rnd.nextInt(6))(pick(Corpus.Words)).asJava)
    rec.put("attrs", (0 until rnd.nextInt(5)).map(i =>
      s"a$i" -> java.lang.Long.valueOf(rnd.nextInt(1000).toLong)).toMap.asJava)
    buf.reset()
    enc = EncoderFactory.get.binaryEncoder(buf, enc)
    writer.write(rec, enc)
    enc.flush()
    Event(itemId, price, ts, buf.toByteArray)
  }
}

/** What a committed output must hold, per time bucket: its row count and
  * the order-independent checksum of (itemId, price, timestamp). */
final class Expected(grain: Corpus.Grain) {
  val buckets = mutable.TreeMap.empty[String, (Long, Long)]

  def add(e: Event): Unit = {
    val b = grain.bucket(e.ts)
    val (n, h) = buckets.getOrElse(b, (0L, 0L))
    buckets(b) = (n + 1, h + Corpus.rowHash(e))
  }

  def rows: Long = buckets.values.map(_._1).sum
}

object Corpus {
  val Topic = "item-view-event"

  lazy val schemaJson: String = {
    val in = getClass.getResourceAsStream("/item-view-event.avsc")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  val Words: IndexedSeq[String] = ("red blue green black white small large light heavy " +
    "cotton wool steel glass wood leather classic modern vintage sport outdoor kitchen " +
    "garden office travel winter summer kids women men home phone case cable charger " +
    "lamp chair table desk shelf bag shoe boot jacket shirt watch ring cup bottle pan " +
    "knife towel pillow blanket camera lens tripod speaker headset keyboard mouse")
    .split(" ").toIndexedSeq
  val Devices = IndexedSeq("mobile", "desktop", "tablet")
  val Sites = IndexedSeq("kr", "us", "jp", "de", "fr")
  val ItemTypes = IndexedSeq("normal", "used", "rental", "digital")

  /** Modulus of the per-row checksum terms, so sums of up to billions of
    * rows stay within a long. */
  val HashMod = 2147483647L

  /** Spark's `xxhash64(itemId, price, baseProperties.timestamp)` (seed 42,
    * each column hashed with the previous hash as its seed), reduced by
    * `HashMod`; the checks compute the same expression over the output. */
  def rowHash(e: Event): Long = {
    val b = e.itemId.getBytes(UTF_8)
    var h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    h = XXH64.hashLong(e.price, h)
    h = XXH64.hashLong(e.ts, h)
    Math.floorMod(h, HashMod)
  }

  /** A time-bucket layout: the pipeline's `date.format` and the partition
    * path it should produce for an event time. */
  final case class Grain(dateFormat: String) {
    private val fmts = dateFormat.split("/").toSeq.map(f =>
      DateTimeFormatter.ofPattern(f).withZone(ZoneOffset.UTC))
    private val names = Seq("dt", "hour", "minute")
    def bucket(ts: Long): String = {
      val t = Instant.ofEpochMilli(ts)
      names.zip(fmts).map { case (n, f) => s"$n=${f.format(t)}" }.mkString("/")
    }
    /** Matches the bucket part of an output file's path. */
    def pathRegex: String = names.take(fmts.length).map(n => s"$n=[^/]+").mkString("/")
  }
  val Hourly = Grain("yyyy-MM-dd/HH")

  /** Write wire records as one uncompressed Parquet file with the wire
    * schema (topic STRING, value BINARY), the way a Kafka partition's
    * segment is replayed through the file source. */
  def writeWire(path: String, events: Iterator[Event]): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message wire { required binary topic (STRING); required binary value; }")
    val w = ExampleParquetWriter.builder(new Path(path))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try events.foreach { e =>
      w.write(groups.newGroup().append("topic", Topic)
        .append("value", Binary.fromConstantByteArray(e.bytes)))
    } finally w.close()
  }
}
