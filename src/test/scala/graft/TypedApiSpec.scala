package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.model.{KinesisSinkConfig, RouterMessage}
import graft.operators.{Logstash, Routing}
import graft.streaming.{InMemoryKinesis, ProducerPipeline}

/** Typed Dataset boundary, the streaming V0-layout config path, and the
  * shard-partitioned file layout of a batch write (S4 routing). */
class TypedApiSpec extends SparkTestBase {
  import spark.implicits._

  private val msg = RouterMessage(
    data = "hi", time = Timestamp.from(Instant.parse("2024-03-01T01:02:03Z")),
    source = "stdout", containerId = "a" * 32, containerName = "/web",
    image = "svc:latest", hostname = "h", labels = Map("k" -> "v"))

  test("typed V1/V0 Datasets carry compile-time schemas and agree with JSON") {
    val ds = spark.createDataset(Seq(msg))
    val v1 = Logstash.toV1Typed(ds, "dh").head()
    assert(v1.`@timestamp` == "2024-03-01T01:02:03Z")
    assert(v1.docker.name == "web" && v1.docker.cid == "a" * 12)
    assert(v1.docker.image_tag.contains("latest"))
    val v0 = Logstash.toV0Typed(ds, "dh").head()
    assert(v0.`@fields`.docker == v1.docker)
    assert(v0.`@message` == "hi" && v0.`@source_host` == "h")
  }

  test("streaming producer honors use_v0_layout from options (P9 wiring)") {
    val src = Files.createTempDirectory("typed-src")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      src.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val cfg = KinesisSinkConfig.fromOptions("t-v0",
      Map("use_v0_layout" -> "true"), env = Map.empty)
    assert(cfg.useV0Layout)
    InMemoryKinesis.delete(cfg.streamName)
    InMemoryKinesis.create(cfg.streamName, cfg.numShards)
    val q = ProducerPipeline.start(spark, src.toString, cfg,
      Files.createTempDirectory("typed-ckpt").toString)
    q.processAllAvailable(); q.stop()
    val sample = spark.read.format("graft-kinesis")
      .option("stream", cfg.streamName).load()
      .select("data").head().getString(0)
    assert(sample.contains("\"@fields\"") && sample.contains("\"@message\""),
      s"expected V0 layout, got: ${sample.take(120)}")
  }

  test("partitionBy(shard) writes one directory per shard (S4 file layout)") {
    val out = Files.createTempDirectory("parts-out").toString
    val df = spark.range(1000)
      .select(concat(lit("key"), col("id")).as("k"), col("id"))
      .withColumn("shard", Routing.shardFor(col("k"), 4))
    df.write.mode("overwrite").partitionBy("shard").parquet(out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted.toSeq
    assert(dirs == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // partition pruning: reading one shard scans only that directory
    val one = spark.read.parquet(out).filter(col("shard") === 2)
    assert(one.count() > 0)
    val scanned = one.queryExecution.executedPlan.toString
    assert(!scanned.contains("shard=0"), "pruned scan must not list shard=0")
  }
}
