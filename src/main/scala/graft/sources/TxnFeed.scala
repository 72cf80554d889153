package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 micro-batch source replaying the reference's
  * Kafka transaction feed (reference
  * `code/ingest/snowpipe_streaming/streaming_kafka_datagen.py:45-48,93-108`:
  * keyed JSON messages — key = running count, value = a transaction
  * record — produced at ~100 msg/s). No Kafka broker or connector jar
  * exists in this environment, so this source exercises the SAME engine
  * surface a Kafka swap-in would use — `MicroBatchStream` offsets,
  * partitioned range planning, checkpointed replay, `SupportsTriggerAvailableNow`
  * — against a deterministic in-process generator.
  *
  * Rows are Kafka-shaped: (key STRING, value STRING<json>, partition INT,
  * offset BIGINT, timestamp TIMESTAMP). Every field of message i is a
  * pure integer function of i (multiplicative hashes mod the field
  * range — no wall clock, no PRNG state), which buys two properties a
  * random generator can't give:
  *   1. restart-replay determinism: re-planning offsets [a,b) after a
  *      checkpoint recovery yields byte-identical rows, so the
  *      exactly-once specs assert equality, not just counts;
  *   2. an independent SQL oracle: DuckDB reproduces the full feed from
  *      `range(n)` with the same integer arithmetic, giving the S10
  *      source a hash-matched correctness gate (query `tf_txnfeed_parse`).
  *
  * Offsets advance `msgsPerBatch` per `latestOffset` poll up to `total`,
  * so a 10 s trigger with the default 1000 msgs/batch reproduces the
  * datagen's 100 msg/s pacing; the in-data timestamps advance 10 ms per
  * message, pinning the same rate inside the records themselves.
  */
class TxnFeedProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "txnfeed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TxnFeed.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TxnFeedTable(new CaseInsensitiveStringMap(properties))
}

class TxnFeedTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "txnfeed"
  override def schema(): StructType = TxnFeed.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val total = o.getLong("total", 100000L)
    val perBatch = o.getLong("msgsPerBatch", 1000L)
    val parts = o.getInt("partitions", 4)
    new ScanBuilder {
      override def build(): Scan = new TxnFeedScan(total, perBatch, parts)
    }
  }
}

class TxnFeedScan(total: Long, perBatch: Long, parts: Int) extends Scan {
  override def readSchema(): StructType = TxnFeed.schema
  override def description(): String =
    s"txnfeed(total=$total, msgsPerBatch=$perBatch)"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      TxnFeed.slices(0L, total, parts)
    override def createReaderFactory(): PartitionReaderFactory =
      TxnFeed.readerFactory
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TxnFeedMicroBatch(total, perBatch, parts)
}

/** Streaming offset = count of messages emitted so far (the datagen's
  * producer counter). */
case class TxnOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class TxnFeedMicroBatch(total: Long, perBatch: Long, parts: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = TxnOffset(0L)

  override def deserializeOffset(json: String): Offset =
    TxnOffset(json.trim.toLong)

  // admission control (SupportsAdmissionControl via TriggerAvailableNow):
  // each micro-batch admits `perBatch` more messages past its start — the
  // datagen's pacing — capped at `total`; advancing relative to `start`
  // (not mutable stream state) makes checkpoint recovery trivially
  // correct, and AvailableNow drains in the same per-batch increments
  // until reportLatestOffset is reached
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(perBatch)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    TxnOffset(math.min(total, start.asInstanceOf[TxnOffset].n + perBatch))

  override def reportLatestOffset(): Offset = TxnOffset(total)

  override def prepareForTriggerAvailableNow(): Unit = ()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit)")

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] =
    TxnFeed.slices(start.asInstanceOf[TxnOffset].n,
      end.asInstanceOf[TxnOffset].n, parts)

  override def createReaderFactory(): PartitionReaderFactory =
    TxnFeed.readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Contiguous slice [from, until) of the message counter, assigned to
  * one task — the moral equivalent of one Kafka topic-partition's
  * offset range in a batch plan. The `partition` COLUMN is not the
  * slice index: it's `offset % partitions` (the producer's round-robin
  * key assignment), a pure function of the message so streaming and
  * batch plans emit identical rows however the range is sliced. */
case class TxnSlice(from: Long, until: Long, parts: Int) extends InputPartition

object TxnFeed {
  /** Kafka-shaped record schema (key/value as STRING — the connector's
    * `CAST(value AS STRING)` already applied, as in StreamingIngest). */
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))

  /** 2023-06-01T00:00:00Z — feed epoch; message i is stamped
    * BASE_MS + 10·i (100 msg/s, the datagen's pacing). */
  val BASE_MS = 1685577600000L

  private val PAYMENT =
    Array("VISA", "MASTERCARD", "AMEX", "DISCOVER", "GIFT_CARD")

  def slices(from: Long, until: Long, parts: Int): Array[InputPartition] = {
    val n = math.max(0L, until - from)
    if (n == 0) return Array.empty
    val p = math.max(1, math.min(parts, n).toInt)
    (0 until p).map { k =>
      TxnSlice(from + n * k / p, from + n * (k + 1) / p, parts)
    }.toArray
  }

  /** All message fields as integer functions of the offset — the exact
    * arithmetic `SparkEntry.oracleSql("tf_txnfeed_parse")` reruns in
    * DuckDB over range(n). Keep the two in lockstep. */
  def valueJson(i: Long): String = {
    val txnId = ('A' + (i % 26)).toChar.toString +
      leftPad((i * 2654435761L) % 99999999999L + 1L, 11)
    val quantity = (i * 7919) % 30 + 1
    val customer = "C" + leftPad((i * 48271) % 5000000L + 1L, 7)
    val productId = ('A' + (i * 3 % 26)).toChar.toString +
      ((i * 7) % 9 + 1) + "-" +
      leftPad((i * 2246822519L) % 9999999L + 1L, 7) +
      ('A' + (i * 5 % 26)).toChar
    val cents = 100 + (i * 104729) % 89901
    val desc = "Prod" + leftPad(i % 1000, 4)
    val payment = PAYMENT(((i * 31) % 5).toInt)
    val ts = formatTs(BASE_MS + 10 * i)
    s"""{"txn_id":"$txnId","txn_date":"$ts","txn_quantity":$quantity,""" +
      s""""customer_id":"$customer","product_id":"$productId",""" +
      s""""product_unit_price":${cents / 100}.${"%02d".format(cents % 100)},""" +
      s""""product_desc":"$desc","payment_method":"$payment"}"""
  }

  private def leftPad(v: Long, width: Int): String = {
    val s = v.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** MM/dd/yyyy HH:mm:ss.SSS in UTC (fixed-width 24 h variant of the
    * datagen's %m/%d/%Y %I:%M:%S.%f %p — parseable with one Spark
    * pattern and reconstructible in oracle SQL). Immutable and
    * thread-safe, so built once, not per message. */
  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("MM/dd/yyyy HH:mm:ss.SSS")
    .withZone(java.time.ZoneOffset.UTC)

  private def formatTs(ms: Long): String =
    tsFormat.format(java.time.Instant.ofEpochMilli(ms))

  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val s = p.asInstanceOf[TxnSlice]
      new PartitionReader[InternalRow] {
        private var i = s.from - 1
        override def next(): Boolean = { i += 1; i < s.until }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](
          UTF8String.fromString(i.toString),
          UTF8String.fromString(valueJson(i)),
          (i % s.parts).toInt,
          i,
          (BASE_MS + 10 * i) * 1000L))
        override def close(): Unit = ()
      }
    }
  }
}
