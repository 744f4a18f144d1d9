package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.KinesisSinkConfig
import graft.operators.Logstash
import graft.sources.LogSource
import graft.streaming.{InMemoryKinesis, ProducerPipeline}

/** Inputs, the consumer and the exactly-once check of the streaming
  * workload. */
object Streams {
  val Shards = 4
  /** Records per shard per micro-batch: readstream.py's get_records limit. */
  val MaxPerFetch = 500

  /** The events fixture with `ts` left as its raw int64, so written files
    * keep the fixture's encoding and go through the producer's own unit
    * detection. */
  def rawEvents(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.schema(LogSource.eventsSchema).parquet(s"$dataDir/events.parquet")

  /** Parquet schema of [[rawEvents]]: plain int64 `ts`, as the fixture's
    * raw value. */
  private val fileSchema = MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id; optional int64 ts; optional int64 user_id;
      |  optional binary event_type (STRING); optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Write raw event rows (the columns of [[rawEvents]]) to one parquet
    * file without a Spark job: small files are cheap to make this way. */
  def writeFile(rows: Iterable[Row], path: Path): Path = {
    Files.createDirectories(path.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(fileSchema).build()
    val groups = new SimpleGroupFactory(fileSchema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.add("ts", r.getLong(1))
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      w.write(g)
    } finally w.close()
    path
  }

  /** `row` with its event id replaced. */
  def withId(row: Row, id: Long): Row =
    Row.fromSeq(id +: row.toSeq.tail)

  /** What the producer must deliver for the events under `dir`: the
    * batch form of its own transform, keyed by event id. */
  def expectedPayloads(spark: SparkSession, dir: String,
                       host: String): Seq[(Long, (String, String))] =
    Logstash.producerPayload(
        LogSource.asRouterMessages(LogSource.readEvents(spark, dir)), host)
      .collect().toSeq.map { r =>
        val json = r.getString(0)
        eventId(json) -> (json, r.getString(1))
      }

  /** The event id carried in a V1 document's `message` ("<type> #<id>");
    * -1 when the document has none. */
  def eventId(json: String): Long = {
    val key = "\"message\":\""
    val i = json.indexOf(key)
    if (i < 0) return -1L
    val end = json.indexOf('"', i + key.length)
    val hash = json.lastIndexOf('#', end)
    if (end < 0 || hash < i) -1L
    else json.substring(hash + 1, end).toLongOption.getOrElse(-1L)
  }

  /** `operators.Logstash` on its own: a timed full-output write of the
    * producer transform over `events` as a static frame, after one
    * untimed write. */
  def payloadSeconds(ctx: Ctx, events: DataFrame, host: String): Double =
    ctx.tracer.span("operators.Logstash.producerPayload") {
      def once(): Double = {
        val t0 = System.nanoTime()
        Logstash.producerPayload(LogSource.asRouterMessages(events), host)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      once()
    }

  def producerConfig(stream: String, host: String): KinesisSinkConfig =
    KinesisSinkConfig(streamName = stream, dockerHost = host, numShards = Shards)

  def startProducer(ctx: Ctx, srcDir: String, cfg: KinesisSinkConfig,
                    ckpt: String): StreamingQuery =
    ctx.tracer.span("streaming.ProducerPipeline.start") {
      ProducerPipeline.start(ctx.spark, srcDir, cfg, ckpt)
    }

  /** The `graft-kinesis` consumer from the earliest offset, at most
    * [[MaxPerFetch]] records per shard per batch and no trigger interval;
    * every batch goes to `sink`. */
  def startConsumer(ctx: Ctx, stream: String, sink: Collector,
                    ckpt: String): StreamingQuery =
    ctx.tracer.span("sources.KinesisLikeSource.start") {
      ctx.spark.readStream.format("graft-kinesis")
        .option("stream", stream)
        .option("maxRecordsPerFetch", MaxPerFetch.toLong)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: DataFrame, id: Long) => sink.onBatch(df, id))
        .start()
    }

  /** Poll `done` every 5 ms until it holds, or until `progress` has not
    * moved for `stallS` seconds (records that never arrive then count as
    * missing instead of hanging the run). */
  def await(stallS: Double)(progress: => Long)(done: => Boolean): Boolean = {
    var last = progress
    var lastMove = System.nanoTime()
    while (!done && System.nanoTime() - lastMove < stallS * 1e9) {
      Thread.sleep(5)
      val p = progress
      if (p != last) { last = p; lastMove = System.nanoTime() }
    }
    done
  }
}

/** The consumer application: checks each delivered record against the
  * expected payload of its event as it arrives and stamps it with the end
  * of the micro-batch that delivered it. */
final class Collector(ctx: Ctx, stream: String,
                      expected: collection.Map[Long, (String, String)]) {
  val deliveredAt = new mutable.LongMap[Long]()
  private val seqs = Array.fill(Streams.Shards)(mutable.ArrayBuffer.empty[Long])
  @volatile var rows = 0L
  @volatile var lastBatchEndNs = 0L
  var duplicates = 0L
  var mismatched = 0L
  var backlogMax = 0L

  def onBatch(df: DataFrame, batchId: Long): Unit =
    ctx.tracer.span("consumer.batch") {
      backlogMax = math.max(backlogMax, InMemoryKinesis.get(stream).size.get().toLong)
      val got = df.select("seq", "shard", "partition_key", "data").collect()
      val ids = got.map { r =>
        val data = r.getString(3)
        val id = Streams.eventId(data)
        seqs(r.getInt(1)) += r.getLong(0)
        if (!expected.get(id).contains((data, r.getString(2)))) mismatched += 1
        id
      }
      val end = System.nanoTime()
      ids.foreach { id =>
        if (deliveredAt.contains(id)) duplicates += 1 else deliveredAt(id) = end
      }
      lastBatchEndNs = end
      rows += got.length
    }

  /** Records lost or corrupted on the way: offered but never delivered,
    * delivered twice, delivered with another payload, or per-shard
    * sequence numbers that skip or repeat. */
  def failures(): Map[String, Long] = {
    val counts = InMemoryKinesis.shardCounts(stream)
    val seqFaults = seqs.zipWithIndex.map { case (xs, i) =>
      val distinct = xs.distinct
      val outside = distinct.count(s => s < 0 || s >= counts(i))
      (counts(i) - (distinct.size - outside)) + (xs.size - distinct.size) + outside
    }.sum
    Map(
      "missing" -> expected.keys.count(id => !deliveredAt.contains(id)).toLong,
      "duplicated" -> duplicates,
      "mismatched" -> mismatched,
      "sequence_faults" -> seqFaults)
  }
}
