package graft.sources

import java.util
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 replay source: re-emits the reference's transaction
  * documents (02_Data_Generation.py:171-264 — one JSON doc per
  * transaction, produced to Kafka topic `inventory.event`) as a
  * rate-limited micro-batch stream with the KAFKA WIRE SCHEMA the
  * reference's bronze layer reads (03_Data_Ingestion.py:139-160):
  * key/value binary, topic, partition, offset, timestamp.
  *
  * Options:
  *   - `dir`  — POS fixture directory (default: [[graft.pos.PosPipeline.DataDir]],
  *     the committed synthetic `_1000` fixture)
  *   - `maxRecordsPerTrigger` — replay rate cap, the analog of the
  *     reference's `maxOffsetsPerTrigger='100'` (default 100)
  *
  * Usage: `spark.readStream.format("graft.sources.PosReplaySource")
  *   .option("maxRecordsPerTrigger", 500).load()` then the standard
  *   silver parse (`PosPipeline.parseEvents`).
  *
  * The document list is built driver-side from the change CSVs with
  * plain Scala (files are small; a production source would page from the
  * broker) — deterministic order by (date_time, trans_id), items sorted.
  */
class PosReplaySource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PosReplaySource.wireSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PosReplayTable(properties)
}

object PosReplaySource {
  /** The Kafka source wire schema (03_Data_Ingestion.py:139-160). */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType)))

  /** One transaction document: (key bytes, value bytes, event-time µs). */
  final case class Doc(key: Array[Byte], value: Array[Byte], tsUs: Long)

  /** Build the replay docs from the two change CSVs, no Spark involved. */
  def buildDocs(dir: String): IndexedSeq[Doc] = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    final case class Line(transId: String, itemId: Int, storeId: Int,
        dt: String, qty: Int, ct: Int)
    val lines = Seq("inventory_change_online_1000.txt",
        "inventory_change_store001_1000.txt").flatMap { f =>
      val src = scala.io.Source.fromFile(s"$dir/$f")
      try src.getLines().drop(1).map { l =>
        val p = l.split(",", -1)
        Line(p(0).stripPrefix("{").stripSuffix("}"),
          p(1).toInt, p(2).toInt, p(3), p(4).toInt, p(5).toInt)
      }.toList
      finally src.close()
    }
    val grouped = mutable.LinkedHashMap.empty[(String, String), mutable.ListBuffer[Line]]
    lines.sortBy(l => (l.dt, l.transId)).foreach { l =>
      grouped.getOrElseUpdate((l.dt, l.transId), mutable.ListBuffer.empty) += l
    }
    grouped.iterator.map { case ((dt, transId), ls) =>
      val head = ls.head
      val items = ls.sortBy(l => (l.itemId, l.qty))
        .map(l => s"""{"item_id": ${l.itemId}, "quantity": ${l.qty}}""")
        .mkString("[", ", ", "]")
      val value =
        s"""{"trans_id": "$transId", "store_id": ${head.storeId}, """ +
          s""""date_time": "$dt", "change_type_id": ${head.ct}, "items": $items}"""
      val tsUs = java.time.LocalDateTime.parse(dt, fmt)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      Doc(transId.getBytes("UTF-8"), value.getBytes("UTF-8"), tsUs)
    }.toIndexedSeq
  }
}

class PosReplayTable(props: util.Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "pos_replay"
  override def schema(): StructType = PosReplaySource.wireSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val dir = options.getOrDefault("dir", graft.pos.PosPipeline.DataDir)
    val rate = options.getOrDefault("maxRecordsPerTrigger", "100").toInt
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PosReplaySource.wireSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PosReplayMicroBatchStream(dir, rate)
        override def toBatch: Batch = new Batch {
          private lazy val n = PosReplaySource.buildDocs(dir).length
          override def planInputPartitions(): Array[InputPartition] =
            Array(PosReplayPartition(dir, 0, n))
          override def createReaderFactory(): PartitionReaderFactory =
            new PosReplayReaderFactory
        }
      }
    }
  }
}

/** Offset = number of docs emitted so far. */
final case class PosReplayOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class PosReplayMicroBatchStream(dir: String, maxPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  private lazy val docs = PosReplaySource.buildDocs(dir)

  override def initialOffset(): Offset = PosReplayOffset(0L)
  override def deserializeOffset(json: String): Offset =
    PosReplayOffset(json.toLong)

  // Admission control: each micro-batch advances by at most
  // maxPerTrigger docs (the reference's maxOffsetsPerTrigger semantics);
  // Trigger.AvailableNow then iterates batches until reportLatestOffset.
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val s = startOffset.asInstanceOf[PosReplayOffset].n
    PosReplayOffset(math.min(s + maxPerTrigger, docs.length.toLong))
  }
  override def reportLatestOffset(): Offset =
    PosReplayOffset(docs.length.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerTrigger)
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PosReplayOffset].n.toInt
    val e = end.asInstanceOf[PosReplayOffset].n.toInt
    if (e <= s) Array.empty else Array(PosReplayPartition(dir, s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PosReplayReaderFactory
}

final case class PosReplayPartition(dir: String, start: Int, end: Int)
    extends InputPartition

class PosReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PosReplayPartition]
    new PartitionReader[InternalRow] {
      private val docs = PosReplaySource.buildDocs(p.dir)
      private var i = p.start - 1
      override def next(): Boolean = { i += 1; i < p.end }
      override def get(): InternalRow = {
        val d = docs(i)
        new GenericInternalRow(Array[Any](
          d.key, d.value, UTF8String.fromString("inventory.event"),
          0, i.toLong, d.tsUs))
      }
      override def close(): Unit = ()
    }
  }
}
