package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.InMemoryKinesis

/** DataSource V2 connector for the in-memory sharded stream — the full
  * Spark analog of the reference's source/consumer machinery:
  *
  * - S1 (registration, logspoutkinesis.go:56-59): registered under the
  *   short name `graft-kinesis` via META-INF/services, so
  *   `spark.read.format("graft-kinesis")` resolves like the reference's
  *   `AdapterFactories.Register("kinesis")`.
  * - S5 (shard discovery, readstream.py:19-27): `planInputPartitions`
  *   emits ONE InputPartition PER SHARD — Spark schedules a task per
  *   shard exactly as the reference builds one iterator per shard.
  * - S6 (offset positioning, readstream.py:26-27): option
  *   `startingSeq` = AT_SEQUENCE_NUMBER analog on each shard's own
  *   sequence (default 0 = TRIM_HORIZON); streaming honors
  *   `startingOffsets` earliest/latest.
  * - S7 (poll + offset advance, readstream.py:30-33): the reference
  *   keeps one iterator token PER SHARD; here the checkpointed offset is
  *   a shard→sequence JSON map (`ShardOffsets`), advanced per shard by
  *   the micro-batch engine. A production swap-in keeps the same offset
  *   model — per-shard cursors are the real Kinesis shape.
  * - S8 (per-fetch limit, readstream.py:32): option `maxRecordsPerFetch`
  *   caps records per shard per micro-batch at OFFSET-ADMISSION time
  *   (`latestOffset(start, limit)` advances each shard at most
  *   `maxRecordsPerFetch` past the start), so uncapped records stay
  *   UNPLANNED and are fetched by later batches — the reference's own
  *   semantics (the 500-record cap delays, never drops). Batch scans
  *   honor the same option as a per-shard top-N.
  * - S9/S10 (print loop and its 5-reads/s/shard sleep,
  *   readstream.py:34-38): not source options but the caller's
  *   `writeStream` settings on this source — `format("console")` is the
  *   print loop and `Trigger.ProcessingTime(200L)` the sleep.
  *
  * The producer side feeds it through `ProducerPipeline.start`, which
  * puts into the same `InMemoryKinesis` stream: that is the one
  * producer→stream→consumer path.
  *
  * Single-JVM caveat: the backing store is `InMemoryKinesis` (local[*]
  * executors share the JVM). A production implementation swaps the
  * store calls for a service client; the connector surface is the same.
  */
class KinesisLikeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisLikeSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KinesisLikeTable(new CaseInsensitiveStringMap(properties))
}

object KinesisLikeSource {
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("shard", IntegerType, nullable = false),
    StructField("partition_key", StringType),
    StructField("data", StringType)))
}

final class KinesisLikeTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val streamName = options.get("stream")
  require(streamName != null, "option 'stream' is required")

  override def name(): String = s"graft-kinesis:$streamName"
  override def schema(): StructType = KinesisLikeSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => {
      // reject bad option values loudly — a silently dead option is how
      // the reference's own buffer_size bug happened (SURVEY §1.4)
      val maxPerFetch = opts.getInt("maxRecordsPerFetch", Int.MaxValue)
      require(maxPerFetch > 0,
        s"maxRecordsPerFetch must be positive, got $maxPerFetch")
      val startingSeq = opts.getLong("startingSeq", 0L)
      require(startingSeq >= 0L,
        s"startingSeq must be non-negative, got $startingSeq")
      val startingOffsets = opts.getOrDefault("startingOffsets", "earliest")
      require(startingOffsets == "earliest" || startingOffsets == "latest",
        s"startingOffsets must be 'earliest' or 'latest', got '$startingOffsets'")
      new KinesisLikeScan(streamName, startingSeq, maxPerFetch,
        startingOffsets)
    }
}

final class KinesisLikeScan(stream: String, startingSeq: Long,
                            maxPerFetch: Int, startingOffsets: String)
    extends Scan {
  override def readSchema(): StructType = KinesisLikeSource.schema
  override def description(): String = s"graft-kinesis scan of $stream"

  // ---- batch: one partition per shard (S5), from startingSeq (S6),
  //      at most maxRecordsPerFetch per shard (S8) ---------------------
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val s = InMemoryKinesis.get(stream)
      (0 until s.numShards).map(i =>
        ShardRange(stream, i, startingSeq, Long.MaxValue, maxPerFetch)
          : InputPartition).toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new ShardReaderFactory
  }

  // ---- streaming: per-shard offsets + offset-time rate admission (S7/S8)
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = new MicroBatchStream with SupportsAdmissionControl {
    private def counts: Map[Int, Long] =
      InMemoryKinesis.shardCounts(stream).zipWithIndex
        .map { case (c, i) => i -> c }.toMap

    /** Per-shard positions already acked to the store (drain cursor for
      * the bounded producer buffer, S13); lazily seeded from the first
      * planned start so checkpoint resume acks only NEW consumption. */
    private var acked: Map[Int, Long] = _

    override def initialOffset(): Offset =
      if (startingOffsets == "latest") ShardOffsets(counts)
      else ShardOffsets(counts.map { case (i, _) => i -> startingSeq })

    /** The per-shard admission cap, derived from the ENGINE-SUPPLIED
      * ReadLimit (not the raw option): under Trigger.AvailableNow or a
      * composite limit the engine's requested policy is what must hold.
      * ReadMaxRows is applied per shard — the reference's fetch cap is
      * per-shard (get_records(limit) per shard, readstream.py:32), and
      * getDefaultReadLimit advertises exactly that value. */
    private def perShardCap(limit: ReadLimit): Long = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _: ReadAllAvailable => Long.MaxValue
      case c: CompositeReadLimit => c.getReadLimits.map(perShardCap).min
      case _ => maxPerFetch.toLong
    }

    /** S8 at admission time: each shard's end advances at most the
      * read-limit cap past the start — records beyond the cap are
      * simply not planned this trigger, never skipped. */
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val s = start.asInstanceOf[ShardOffsets].pos
      if (acked == null) acked = s
      val cap = perShardCap(limit)
      ShardOffsets(counts.map { case (i, c) =>
        val from = s.getOrElse(i, 0L)
        i -> math.min(c, if (cap == Long.MaxValue) c else from + cap)
      })
    }
    override def latestOffset(): Offset =
      throw new UnsupportedOperationException(
        "latestOffset(Offset, ReadLimit) should be called instead")
    /** True (uncapped) high-water marks, so the engine knows more data is
      * pending and keeps triggering until caught up. */
    override def reportLatestOffset(): Offset = ShardOffsets(counts)
    override def getDefaultReadLimit: ReadLimit =
      if (maxPerFetch == Int.MaxValue) ReadLimit.allAvailable()
      else ReadLimit.maxRows(maxPerFetch.toLong)

    override def planInputPartitions(start: Offset, end: Offset)
        : Array[InputPartition] = {
      val (s, e) = (start.asInstanceOf[ShardOffsets].pos,
        end.asInstanceOf[ShardOffsets].pos)
      // WAL-replay path: after a restart the engine re-plans the last
      // uncommitted batch directly from checkpointed offsets WITHOUT
      // calling latestOffset first — seed the drain cursor here too, so
      // that batch's commit acks its full delta (otherwise block-mode
      // producers stay parked on a phantom backlog after restart)
      if (acked == null) acked = s
      e.keys.toArray.sorted.map { i =>
        ShardRange(stream, i, s.getOrElse(i, 0L), e(i)): InputPartition
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new ShardReaderFactory
    override def deserializeOffset(json: String): Offset =
      ShardOffsets.fromJson(json)
    /** Offset commit == durable consumption: ack the newly committed
      * record count so the bounded buffer drains (unblocks block-mode
      * producers, S13). */
    override def commit(end: Offset): Unit = {
      val e = end.asInstanceOf[ShardOffsets].pos
      if (acked != null) {
        val delta = e.map { case (i, p) =>
          math.max(0L, p - acked.getOrElse(i, 0L)) }.sum
        if (delta > 0) InMemoryKinesis.ack(stream, delta)
      }
      acked = e
    }
    override def stop(): Unit = ()
  }
}

/** Engine-checkpointable offset: one cursor PER SHARD (shard → next
  * per-shard sequence), JSON-serialized as {"0":12,"1":7,...} — the
  * checkpointed analog of readstream.py:30-33's per-shard iterator
  * tokens. */
final case class ShardOffsets(pos: Map[Int, Long]) extends Offset {
  override def json(): String =
    pos.toSeq.sortBy(_._1)
      .map { case (i, p) => s""""$i":$p""" }.mkString("{", ",", "}")
}

object ShardOffsets {
  def fromJson(json: String): ShardOffsets = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    val pos =
      if (body.isEmpty) Map.empty[Int, Long]
      else body.split(",").map { kv =>
        val Array(k, v) = kv.split(":")
        k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
      }.toMap
    ShardOffsets(pos)
  }
}

/** One shard's [fromSeq, untilSeq) slice of its own sequence space — the
  * shard-iterator analog. `limit` (batch S8) additionally caps emitted
  * records; the streaming path never sets it (the cap is applied at
  * offset admission instead, so no planned record is ever dropped). */
final case class ShardRange(stream: String, shard: Int, fromSeq: Long,
                            untilSeq: Long, limit: Int = Int.MaxValue)
    extends InputPartition

final class ShardReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[ShardRange]
    new PartitionReader[InternalRow] {
      private val it = InMemoryKinesis.get(r.stream).shards(r.shard)
        .iterator()
      private var current: InMemoryKinesis.Record = _
      private var emitted = 0
      override def next(): Boolean = {
        while (it.hasNext && emitted < r.limit) {
          val rec = it.next()
          if (rec.seq >= r.fromSeq && rec.seq < r.untilSeq) {
            current = rec; emitted += 1; return true
          }
        }
        false
      }
      override def get(): InternalRow =
        InternalRow(current.seq, r.shard,
          UTF8String.fromString(current.partitionKey),
          UTF8String.fromString(current.data))
      override def close(): Unit = ()
    }
  }
}
