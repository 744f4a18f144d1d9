package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.model.KinesisSinkConfig
import graft.streaming.{InMemoryKinesis, ProducerPipeline}

/** The streaming shell end-to-end (S2 stream, S3 batched put, S4
  * routing, S7 offsets, S8 fetch cap, S9 console, S11 trigger, S12
  * retry, S13 backpressure config, P13 mute/unmute) on the one
  * producer→consumer path: `ProducerPipeline.start` puts into the
  * in-memory sharded stream, the `graft-kinesis` source reads it back. */
class StreamingSpec extends SparkTestBase {

  /** Stage the sf0.001 events fixture as a file-stream source dir. */
  private def stageSource(): String = {
    val dir = Files.createTempDirectory("graft-src")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("producer delivers every record, sharded and batched (S2-S4,S11)") {
    val src = stageSource()
    InMemoryKinesis.delete("t-basic")
    val s = InMemoryKinesis.create("t-basic", numShards = 4)
    val cfg = KinesisSinkConfig(streamName = "t-basic", numShards = 4,
      dockerHost = "dh-test")
    val q = ProducerPipeline.start(spark, src, cfg, tmp("ckpt"))
    q.processAllAvailable(); q.stop()
    assert(s.delivered.get() == 1000L)
    assert(s.putAttempts.get() == 1000L)
    assert(s.dropped.get() == 0L)
    // partition_key is the constant docker_host -> ONE shard gets all
    // records (the reference's actual behavior: one key -> one shard)
    assert(InMemoryKinesis.shardCounts("t-basic").sum == 1000)
    assert(InMemoryKinesis.shardCounts("t-basic").count(_ > 0) == 1)
  }

  test("transient failures are retried within budget; one muted log (S12,P13)") {
    val src = stageSource()
    InMemoryKinesis.delete("t-retry")
    val s = InMemoryKinesis.create("t-retry", numShards = 1)
    s.failNextPuts.set(5)
    val cfg = KinesisSinkConfig(streamName = "t-retry", numShards = 1,
      maxAttemptsPerRecord = 10)
    val q = ProducerPipeline.start(spark, src, cfg, tmp("ckpt"))
    q.processAllAvailable(); q.stop()
    assert(s.delivered.get() == 1000L)
    assert(s.putAttempts.get() == 1005L) // 5 failed attempts + 1000 ok
    assert(s.dropped.get() == 0L)
    assert(s.errorLogLines.get() == 1L) // muted after the first (go :211-214)
  }

  test("records exceeding the attempt budget are dropped (S12)") {
    val src = stageSource()
    InMemoryKinesis.delete("t-drop")
    val s = InMemoryKinesis.create("t-drop", numShards = 1)
    s.failNextPuts.set(3)
    val cfg = KinesisSinkConfig(streamName = "t-drop", numShards = 1,
      maxAttemptsPerRecord = 3)
    val q = ProducerPipeline.start(spark, src, cfg, tmp("ckpt"))
    q.processAllAvailable(); q.stop()
    // single partition -> the first record burns all 3 attempts, drops;
    // every subsequent record succeeds first try
    assert(s.dropped.get() == 1L)
    assert(s.delivered.get() == 999L)
    assert(s.errorLogLines.get() == 1L)
  }

  test("console sink smoke (S9/S10)") {
    // readstream.py's print loop (S9) and its 200 ms sleep (S10) are the
    // consumer query's sink and trigger on the graft-kinesis source
    val src = stageSource()
    InMemoryKinesis.delete("t-console")
    InMemoryKinesis.create("t-console", numShards = 4)
    val cfg = KinesisSinkConfig(streamName = "t-console", numShards = 4)
    val p = ProducerPipeline.start(spark, src, cfg, tmp("ckpt"))
    p.processAllAvailable(); p.stop()
    val c = spark.readStream.format("graft-kinesis")
      .option("stream", "t-console").load()
      .writeStream.format("console")
      .option("truncate", "false")
      .option("checkpointLocation", tmp("console-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
      .start()
    c.processAllAvailable(); c.stop() // output on stdout
    assert(c.recentProgress.map(_.numInputRows).sum == 1000L)
  }

  test("consumer reads every produced record with a fetch cap (S8)") {
    // readstream.py's per-fetch cap on the graft-kinesis source: the
    // producer fills the stream first, then a capped consumer drains it
    val src = stageSource()
    InMemoryKinesis.delete("t-cap8")
    InMemoryKinesis.create("t-cap8", numShards = 4)
    val cfg = KinesisSinkConfig(streamName = "t-cap8", numShards = 4)
    val p = ProducerPipeline.start(spark, src, cfg, tmp("ckpt"))
    p.processAllAvailable(); p.stop()
    val c = spark.readStream.format("graft-kinesis")
      .option("stream", "t-cap8").option("maxRecordsPerFetch", 100).load()
      .writeStream.format("memory").queryName("consumed1")
      .option("checkpointLocation", tmp("consumer-ckpt"))
      .start()
    c.processAllAvailable(); c.stop()
    assert(spark.table("consumed1").count() == 1000L)
    // the constant partition key sends all 1000 records to one shard, so
    // the cap of 100 per shard per fetch needs at least 10 batches
    val batches = c.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.length >= 10, s"batch sizes: ${batches.mkString(",")}")
    assert(batches.max <= 100L, s"batch sizes: ${batches.mkString(",")}")
    val sample = spark.table("consumed1").select("data").head().getString(0)
    assert(sample.contains("\"@timestamp\"") && sample.contains("\"docker\""))
  }

  test("full loop: producer pipeline → sharded stream → DSv2 consumer (S2-S9)") {
    // the reference's complete path in one test: file-stream source →
    // logstash projection → routed batched put into the sharded store,
    // then read back through the graft-kinesis streaming connector. The
    // consumer polls while the producer puts, so a record counted before
    // it is readable would be lost.
    val src = stageSource()
    InMemoryKinesis.delete("t-e2e")
    InMemoryKinesis.create("t-e2e", numShards = 4)
    val cfg = KinesisSinkConfig(streamName = "t-e2e", numShards = 4,
      dockerHost = "dh-e2e")
    val consumer = spark.readStream.format("graft-kinesis")
      .option("stream", "t-e2e").load()
      .writeStream.format("memory").queryName("e2eout")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .start()
    val producer = ProducerPipeline.start(spark, src, cfg, tmp("ckpt"))
    producer.processAllAvailable(); producer.stop()
    consumer.processAllAvailable(); consumer.stop()
    val out = spark.table("e2eout")
    assert(out.count() == 1000L, "every produced record consumed")
    import org.apache.spark.sql.functions._
    assert(out.select(count_distinct(col("shard"), col("seq")))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).head() == 1000L,
      "exactly once per (shard, seq)")
    val sample = out.select("data").head().getString(0)
    assert(sample.contains("\"@timestamp\"") && sample.contains("\"docker\""),
      "payload is the serialized logstash document")
  }

  test("backpressure: capacity overflow drops when blocking disabled (S13)") {
    InMemoryKinesis.delete("t-cap")
    val s = InMemoryKinesis.create("t-cap", numShards = 1, capacity = 10)
    (0 until 15).foreach { i =>
      InMemoryKinesis.tryPut("t-cap", 0, "k", s"rec-$i", block = false)
    }
    assert(s.delivered.get() == 10L)
    assert(InMemoryKinesis.shardCounts("t-cap").sum == 10)
  }

  /** A micro-batch frame shaped like producerPayload's output. */
  private def payloadBatch(n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(
      concat(lit("{\"m\":"), col("id"), lit("}")).as("log_json"),
      concat(lit("key-"), col("id") % 7).as("partition_key"))
  }

  test("idempotent sink: a replayed micro-batch is a no-op; new batches deliver") {
    InMemoryKinesis.delete("t-idem")
    val s = InMemoryKinesis.create("t-idem", numShards = 4)
    val cfg = KinesisSinkConfig(streamName = "t-idem", numShards = 4,
      idempotentSink = true)
    val batch = payloadBatch(100)
    ProducerPipeline.deliverBatch(batch, cfg, batchId = 7L)
    assert(s.delivered.get() == 100L)
    // foreachBatch replay after a restart: same frame, same batch id
    ProducerPipeline.deliverBatch(batch, cfg, batchId = 7L)
    assert(s.delivered.get() == 100L, "replayed batch must not double-write")
    assert(InMemoryKinesis.shardCounts("t-idem").sum == 100)
    // genuinely new data under a new id still flows
    ProducerPipeline.deliverBatch(payloadBatch(40), cfg, batchId = 8L)
    assert(s.delivered.get() == 140L)
  }

  test("at-least-once default: a replay double-writes (reference-faithful)") {
    InMemoryKinesis.delete("t-alo")
    val s = InMemoryKinesis.create("t-alo", numShards = 2)
    val cfg = KinesisSinkConfig(streamName = "t-alo", numShards = 2)
    val batch = payloadBatch(50)
    ProducerPipeline.deliverBatch(batch, cfg, batchId = 3L)
    ProducerPipeline.deliverBatch(batch, cfg, batchId = 3L)
    assert(s.delivered.get() == 100L,
      "without idempotent_sink the reference's at-least-once stands")
  }

  test("idempotent_sink config parses from the options map") {
    val cfg = KinesisSinkConfig.fromOptions("s",
      Map("idempotent_sink" -> "true"), env = Map.empty)
    assert(cfg.idempotentSink)
    assert(!KinesisSinkConfig.fromOptions("s", Map.empty,
      env = Map.empty).idempotentSink)
  }
}
