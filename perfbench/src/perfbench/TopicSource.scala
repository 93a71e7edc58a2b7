package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.internal.connector.SimpleTableProvider
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An in-memory stand-in for a Kafka topic (Kafka is not on the classpath).
  *
  * The log is generated up front; a producer makes it visible by moving
  * [[publishUpTo]]. Readers see it through Structured Streaming like the
  * Kafka source: a fixed partition count (a topic's partitions, not one
  * partition per append as `MemoryStream` makes) and an optional
  * `maxOffsetsPerTrigger` cap. Tasks read the log from this JVM's
  * registry, so the source works in local mode only.
  */
final class Topic(val name: String, keys: Array[Array[Byte]], values: Array[Array[Byte]]) {
  @volatile private var visible = 0L

  def size: Long = keys.length.toLong
  def end: Long = visible
  def publishUpTo(n: Long): Unit = visible = math.min(n, size)

  private[perfbench] def key(i: Int): Array[Byte] = keys(i)
  private[perfbench] def value(i: Int): Array[Byte] = values(i)
}

object Topic {
  private val registry = new ConcurrentHashMap[String, Topic]()

  /** A registered topic holding `msgs` (nothing visible yet). */
  def create(name: String, msgs: Seq[Mix.Msg]): Topic = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val t = new Topic(name, msgs.map(_.key.getBytes(utf8)).toArray,
      msgs.map(m => if (m.value == null) null else m.value.getBytes(utf8)).toArray)
    registry.put(name, t)
    t
  }

  def drop(name: String): Unit = registry.remove(name)

  def get(name: String): Topic = {
    val t = registry.get(name)
    require(t != null, s"no topic '$name'")
    t
  }
}

/** `spark.readStream.format(classOf[TopicProvider].getName)` with options
  * `topic`, `partitions` and optionally `maxOffsetsPerTrigger`.
  */
final class TopicProvider extends SimpleTableProvider {
  override def getTable(options: CaseInsensitiveStringMap): Table =
    new TopicTable(options.get("topic"), options.getInt("partitions", 1),
      Option(options.get("maxOffsetsPerTrigger")).map(_.toLong))
}

private final class TopicTable(topic: String, partitions: Int, maxPerTrigger: Option[Long])
    extends Table with SupportsRead {
  override def name(): String = topic
  override def schema(): StructType = TopicTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = TopicTable.Schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new TopicStream(topic, partitions, maxPerTrigger)
  }
}

private object TopicTable {
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))
}

private final case class TopicOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private final case class TopicSlice(topic: String, from: Long, until: Long) extends InputPartition

private final class TopicStream(topic: String, partitions: Int, maxPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = TopicOffset(0L)
  override def deserializeOffset(json: String): Offset = TopicOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used instead")

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[TopicOffset].n
    val end = Topic.get(topic).end
    TopicOffset(limit match {
      case m: ReadMaxRows => math.min(end, from + m.maxRows())
      case _ => end
    })
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[TopicOffset].n
    val until = end.asInstanceOf[TopicOffset].n
    val n = until - from
    (0 until partitions).map { p =>
      TopicSlice(topic, from + n * p / partitions, from + n * (p + 1) / partitions): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = TopicReaderFactory
}

private object TopicReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val s = partition.asInstanceOf[TopicSlice]
    val t = Topic.get(s.topic)
    new PartitionReader[InternalRow] {
      private var i = s.from - 1
      override def next(): Boolean = { i += 1; i < s.until }
      override def get(): InternalRow = {
        val v = t.value(i.toInt)
        InternalRow(UTF8String.fromBytes(t.key(i.toInt)),
          if (v == null) null else UTF8String.fromBytes(v))
      }
      override def close(): Unit = ()
    }
  }
}
