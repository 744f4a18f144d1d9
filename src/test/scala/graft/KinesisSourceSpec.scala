package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{KinesisLikeScan, ShardOffsets, ShardRange, ShardReaderFactory}
import graft.streaming.InMemoryKinesis

/** DSv2 connector: registration by short name (S1), one partition per
  * shard (S5), per-shard offset positioning (S6), engine-managed
  * per-shard micro-batch offsets (S7), per-fetch cap at offset-admission
  * time (S8 — capped records are delayed, never dropped). */
class KinesisSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def fill(name: String, shards: Int, n: Int): Unit = {
    InMemoryKinesis.delete(name)
    InMemoryKinesis.create(name, shards)
    (0 until n).foreach { i =>
      InMemoryKinesis.tryPut(name, i % shards, s"k$i", s"rec-$i", block = false)
    }
  }

  test("S1/S5: format resolves by short name; one task per shard") {
    fill("dsv2", shards = 4, n = 100)
    val df = spark.read.format("graft-kinesis").option("stream", "dsv2").load()
    assert(df.count() == 100L)
    assert(df.rdd.getNumPartitions == 4, "one InputPartition per shard")
    assert(df.select(count_distinct(col("shard"))).as[Long].head() == 4L)
  }

  test("S6: startingSeq resumes each shard mid-sequence (AT_SEQUENCE_NUMBER analog)") {
    // 2 shards x 25 records each, per-shard seqs 0..24
    fill("dsv2-seq", shards = 2, n = 50)
    val df = spark.read.format("graft-kinesis")
      .option("stream", "dsv2-seq").option("startingSeq", 20).load()
    assert(df.count() == 10L, "5 records per shard at seq >= 20")
    assert(df.agg(min("seq")).as[Long].head() == 20L)
  }

  test("S8 batch: maxRecordsPerFetch caps records per shard") {
    fill("dsv2-cap", shards = 4, n = 100)
    val df = spark.read.format("graft-kinesis")
      .option("stream", "dsv2-cap").option("maxRecordsPerFetch", 5).load()
    assert(df.count() == 20L, "5 records x 4 shards")
    val perShard = df.groupBy("shard").count().select("count").as[Long].collect()
    assert(perShard.forall(_ == 5L))
    assert(df.agg(max("seq")).as[Long].head() == 4L, "the FIRST 5 of each shard")
  }

  test("S7: micro-batch stream delivers existing + late-arriving records") {
    fill("dsv2-stream", shards = 2, n = 30)
    val q = spark.readStream.format("graft-kinesis")
      .option("stream", "dsv2-stream").load()
      .writeStream.format("memory").queryName("dsv2out")
      .trigger(Trigger.ProcessingTime(50L)).start()
    q.processAllAvailable()
    assert(spark.table("dsv2out").count() == 30L)
    // records arriving AFTER the stream started are picked up (S7 poll)
    (30 until 40).foreach { i =>
      InMemoryKinesis.tryPut("dsv2-stream", i % 2, s"k$i", s"rec-$i", block = false)
    }
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dsv2out").count() == 40L)
    assert(spark.table("dsv2out")
      .select(count_distinct(col("shard"), col("seq"))).as[Long].head() == 40L,
      "no duplicates across micro-batches (per-shard sequences)")
  }

  test("S8 streaming: maxRecordsPerFetch delays but NEVER drops records") {
    // 100 records, cap 10/shard/trigger over 2 shards => >= 5 batches;
    // every record must still arrive exactly once (the reference's own
    // 500-record fetch cap semantics: readstream.py:32 fetches again,
    // never skips)
    fill("dsv2-throttle", shards = 2, n = 100)
    val q = spark.readStream.format("graft-kinesis")
      .option("stream", "dsv2-throttle").option("maxRecordsPerFetch", 10)
      .load()
      .writeStream.format("memory").queryName("dsv2throttle")
      .trigger(Trigger.ProcessingTime(20L)).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dsv2throttle").count() == 100L,
      "all 100 records arrive despite the per-trigger cap")
    assert(spark.table("dsv2throttle")
      .select(count_distinct(col("shard"), col("seq"))).as[Long].head() == 100L,
      "exactly once — no duplicates, no gaps")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 5,
      s"cap 10 x 2 shards = at most 20 records/trigger => >= 5 batches, got $batches")
    val maxBatch = q.recentProgress.map(_.numInputRows).max
    assert(maxBatch <= 20L,
      s"no trigger may exceed cap x shards = 20 rows, got $maxBatch")
  }

  test("S7: unevenly-filled shards resume per shard without dup or gap") {
    InMemoryKinesis.delete("dsv2-skew")
    InMemoryKinesis.create("dsv2-skew", numShards = 3)
    (0 until 30).foreach(i => InMemoryKinesis.tryPut("dsv2-skew", 0, s"a$i", s"a-$i", block = false))
    (0 until 5).foreach(i => InMemoryKinesis.tryPut("dsv2-skew", 1, s"b$i", s"b-$i", block = false))
    // shard 2 stays empty
    val q = spark.readStream.format("graft-kinesis")
      .option("stream", "dsv2-skew").option("maxRecordsPerFetch", 4).load()
      .writeStream.format("memory").queryName("dsv2skew")
      .trigger(Trigger.ProcessingTime(20L)).start()
    q.processAllAvailable()
    // late data lands on the SLOW shard only — its cursor must resume at
    // its own seq 5, independent of shard 0's position
    (5 until 12).foreach(i => InMemoryKinesis.tryPut("dsv2-skew", 1, s"b$i", s"b-$i", block = false))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dsv2skew")
    assert(out.count() == 42L)
    assert(out.select(count_distinct(col("shard"), col("seq")))
      .as[Long].head() == 42L, "no duplicates")
    assert(out.filter(col("shard") === 1).agg(max("seq")).as[Long].head() == 11L)
    assert(out.filter(col("shard") === 0).count() == 30L)
  }

  test("S6 streaming: startingOffsets=latest skips history") {
    fill("dsv2-latest", shards = 2, n = 20)
    val q = spark.readStream.format("graft-kinesis")
      .option("stream", "dsv2-latest").option("startingOffsets", "latest")
      .load()
      .writeStream.format("memory").queryName("dsv2latest")
      .trigger(Trigger.ProcessingTime(50L)).start()
    q.processAllAvailable()
    assert(spark.table("dsv2latest").count() == 0L, "history skipped")
    (20 until 25).foreach { i =>
      InMemoryKinesis.tryPut("dsv2-latest", i % 2, s"k$i", s"rec-$i", block = false)
    }
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dsv2latest").count() == 5L)
  }

  test("S7: restart from checkpoint resumes per-shard cursors (no dup, no gap)") {
    // memory sink cannot recover checkpoints — use a file sink. Run 1
    // consumes 20 records unevenly; run 2 (same checkpoint) must deliver
    // ONLY the records added in between, resuming each shard at its own
    // deserialized cursor.
    val dir = java.nio.file.Files.createTempDirectory("dsv2-ckpt").toString
    val sink = s"$dir/sink"; val ckpt = s"$dir/ckpt"
    InMemoryKinesis.delete("dsv2-restart")
    InMemoryKinesis.create("dsv2-restart", numShards = 2)
    (0 until 15).foreach(i => InMemoryKinesis.tryPut("dsv2-restart", 0, s"a$i", s"a-$i", block = false))
    (0 until 5).foreach(i => InMemoryKinesis.tryPut("dsv2-restart", 1, s"b$i", s"b-$i", block = false))
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-kinesis")
        .option("stream", "dsv2-restart").load()
        .writeStream.format("json").option("path", sink)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    (15 until 20).foreach(i => InMemoryKinesis.tryPut("dsv2-restart", 0, s"a$i", s"a-$i", block = false))
    (5 until 12).foreach(i => InMemoryKinesis.tryPut("dsv2-restart", 1, s"b$i", s"b-$i", block = false))
    runOnce()
    val out = spark.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("partition_key", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("data", org.apache.spark.sql.types.StringType))))
      .json(sink)
    assert(out.count() == 32L, "15+5 from run 1, 5+7 from run 2")
    assert(out.select(count_distinct(col("shard"), col("seq")))
      .as[Long].head() == 32L, "restart resumed per-shard — no duplicates")
    assert(out.filter(col("shard") === 0).agg(max("seq")).as[Long].head() == 19L)
    assert(out.filter(col("shard") === 1).agg(max("seq")).as[Long].head() == 11L)
  }

  test("bad option values are rejected loudly, not silently ignored") {
    fill("dsv2-opts", shards = 1, n = 1)
    def failsWith(opts: (String, String)*): Unit = {
      val e = intercept[Exception] {
        opts.foldLeft(spark.read.format("graft-kinesis")
            .option("stream", "dsv2-opts")) { case (r, (k, v)) => r.option(k, v) }
          .load().count()
      }
      assert(e.getMessage != null)
    }
    failsWith("maxRecordsPerFetch" -> "0")
    failsWith("maxRecordsPerFetch" -> "-5")
    failsWith("startingSeq" -> "-1")
    failsWith("startingOffsets" -> "trim_horizon")
  }

  test("offset JSON round-trips the per-shard cursor map") {
    val o = ShardOffsets(Map(0 -> 12L, 1 -> 7L, 5 -> 0L))
    assert(o.json() == """{"0":12,"1":7,"5":0}""")
    assert(ShardOffsets.fromJson(o.json()) == o)
    assert(ShardOffsets.fromJson("{}") == ShardOffsets(Map.empty))
  }

  test("S13: block-mode put parks until a consumer acks (drain path)") {
    InMemoryKinesis.delete("dsv2-block")
    val s = InMemoryKinesis.create("dsv2-block", numShards = 1, capacity = 5)
    (0 until 5).foreach(i => InMemoryKinesis.tryPut("dsv2-block", 0, "k", s"r$i", block = false))
    assert(s.size.get() == 5)
    @volatile var done = false
    val producer = new Thread(() => {
      (5 until 8).foreach(i => InMemoryKinesis.tryPut("dsv2-block", 0, "k", s"r$i", block = true))
      done = true
    })
    producer.start()
    Thread.sleep(100)
    assert(!done, "producer must be parked at capacity")
    InMemoryKinesis.ack("dsv2-block", 3) // consumer drains 3 records
    producer.join(5000)
    assert(done, "producer unblocks once the consumer drains")
    assert(s.delivered.get() == 8L)
    assert(s.size.get() == 5, "8 put - 3 acked")
  }

  test("S13: block-mode producer parks in WAITING state (condition wait, not a spin)") {
    InMemoryKinesis.delete("dsv2-park")
    val s = InMemoryKinesis.create("dsv2-park", numShards = 1, capacity = 2)
    (0 until 2).foreach(i => InMemoryKinesis.tryPut("dsv2-park", 0, "k", s"r$i", block = false))
    val producer = new Thread(() =>
      InMemoryKinesis.tryPut("dsv2-park", 0, "k", "r2", block = true))
    producer.start()
    // a Condition.await parks the thread (WAITING); the old busy-wait
    // would stay RUNNABLE and burn a core
    val deadline = System.currentTimeMillis + 5000
    while (producer.getState != Thread.State.WAITING
           && System.currentTimeMillis < deadline) Thread.sleep(10)
    assert(producer.getState == Thread.State.WAITING,
      s"blocked producer must await the notFull condition, was ${producer.getState}")
    InMemoryKinesis.ack("dsv2-park", 1)
    producer.join(5000)
    assert(!producer.isAlive, "producer resumes on the ack signal")
    assert(s.delivered.get() == 3L)
  }

  test("restart WAL replay: first commit acks the replayed batch (no phantom backlog)") {
    // after a restart the engine re-plans the last uncommitted batch via
    // planInputPartitions straight from checkpointed offsets — no
    // latestOffset call — then commits it; that commit must still drain
    InMemoryKinesis.delete("dsv2-replay")
    val s = InMemoryKinesis.create("dsv2-replay", numShards = 1, capacity = 100)
    (0 until 10).foreach(i =>
      InMemoryKinesis.tryPut("dsv2-replay", 0, "k", s"r$i", block = false))
    assert(s.size.get() == 10)
    val mbs = new KinesisLikeScan("dsv2-replay", 0L, Int.MaxValue, "earliest")
      .toMicroBatchStream("unused-checkpoint")
    mbs.planInputPartitions(ShardOffsets(Map(0 -> 0L)), ShardOffsets(Map(0 -> 10L)))
    mbs.commit(ShardOffsets(Map(0 -> 10L)))
    assert(s.size.get() == 0, "replayed batch must drain on its commit")
  }

  test("admission honors the engine-supplied ReadLimit, not the raw option") {
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl}
    InMemoryKinesis.delete("dsv2-limit")
    InMemoryKinesis.create("dsv2-limit", numShards = 1, capacity = 100)
    (0 until 10).foreach(i =>
      InMemoryKinesis.tryPut("dsv2-limit", 0, "k", s"r$i", block = false))
    val mbs = new KinesisLikeScan("dsv2-limit", 0L, Int.MaxValue, "earliest")
      .toMicroBatchStream("unused").asInstanceOf[SupportsAdmissionControl]
    val start = ShardOffsets(Map(0 -> 0L))
    assert(mbs.latestOffset(start, ReadLimit.maxRows(3L)) ==
      ShardOffsets(Map(0 -> 3L)), "ReadMaxRows caps admission")
    assert(mbs.latestOffset(start, ReadLimit.allAvailable()) ==
      ShardOffsets(Map(0 -> 10L)), "ReadAllAvailable admits everything")
    assert(mbs.latestOffset(start, ReadLimit.compositeLimit(
        Array(ReadLimit.maxRows(4L), ReadLimit.allAvailable()))) ==
      ShardOffsets(Map(0 -> 4L)), "composite takes the tightest cap")
  }

  test("S13: DSv2 offset commit acks the store (stream drains the buffer)") {
    InMemoryKinesis.delete("dsv2-drain")
    val s = InMemoryKinesis.create("dsv2-drain", numShards = 2, capacity = 100)
    (0 until 40).foreach(i => InMemoryKinesis.tryPut("dsv2-drain", i % 2, s"k$i", s"rec-$i", block = false))
    assert(s.size.get() == 40)
    val q = spark.readStream.format("graft-kinesis")
      .option("stream", "dsv2-drain").load()
      .writeStream.format("memory").queryName("dsv2drain")
      .trigger(Trigger.ProcessingTime(20L)).start()
    q.processAllAvailable()
    // the engine calls source.commit(batch N) while constructing batch
    // N+1 — push a second wave so the first batch's ack lands
    (40 until 50).foreach(i => InMemoryKinesis.tryPut("dsv2-drain", i % 2, s"k$i", s"rec-$i", block = false))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dsv2drain").count() == 50L)
    assert(s.size.get() <= 10,
      "batch-1 commit acked its 40 records (only the tail batch may remain un-acked)")
  }

  test("a counted record is always readable while a producer puts (no planned-but-unread gap)") {
    // one producer appends to one shard while this thread does what each
    // micro-batch does: take the shard count as the batch end, then read
    // [from, end) through the shard reader. A count published before its
    // record is in the queue plans a record the read misses, and the
    // committed offset then moves past it for good.
    val name = "dsv2-race"
    val perRound = 50000
    var missed = 0L
    (0 until 8).foreach { _ =>
      InMemoryKinesis.delete(name)
      InMemoryKinesis.create(name, numShards = 1, capacity = perRound)
      val producer = new Thread(() => (0 until perRound).foreach(i =>
        InMemoryKinesis.tryPut(name, 0, "k", s"r$i", block = false)))
      producer.start()
      var from = 0L
      while (from < perRound) {
        val until = InMemoryKinesis.shardCounts(name)(0)
        val reader = new ShardReaderFactory()
          .createReader(ShardRange(name, 0, from, until))
        var read = 0L
        while (reader.next()) read += 1
        reader.close()
        missed += (until - from) - read
        from = until
      }
      producer.join()
    }
    assert(missed == 0L, s"$missed planned records were not in the queue")
  }
}
