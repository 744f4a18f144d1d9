package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.KinesisSinkConfig
import graft.operators.{Logstash, Routing}
import graft.sources.LogSource

/** The reference's producer runtime shape (logspoutkinesis.go:182-221)
  * as a Structured Streaming pipeline:
  *
  *   readStream (S2) → logstash projection (P1-P11) → shard routing (S4)
  *   → foreachBatch sink with per-shard batching (S3), flush-interval
  *   trigger (S11), per-record retry budget (S12), buffer/backpressure
  *   policy (S13) and mute/unmute error logging (P13).
  *
  * The micro-batch engine replaces the hand-rolled buffer+goroutine
  * machinery: Trigger.ProcessingTime(flushInterval) IS the flush timer,
  * checkpointed offsets ARE the at-least-once contract, and Spark's
  * pull-based backpressure makes `add_blocks_when_buffer_full`
  * config-surface-only (SURVEY §4) — the in-memory service still honors
  * it for semantic parity.
  */
object ProducerPipeline {

  /** Deliver one micro-batch: hash-route rows to shards, then per
    * partition, group into `batchSize` chunks (the PutRecords batch, go
    * :139) and put each record with up to `maxAttemptsPerRecord`
    * attempts (go :147-153). Mute/unmute logging per the reference
    * (go :194-219): log the first failure, mute until a success.
    *
    * `batchId` + `cfg.idempotentSink` opt into replay protection: the
    * row→partition mapping (hash of the shard column) is deterministic,
    * so a replayed micro-batch re-presents the same row set per
    * partition; a (batchId, partitionId) unit whose puts all completed
    * is skipped wholesale and the replay is a no-op. Granularity is
    * honest at-least-once underneath: a task that FAILS mid-unit never
    * marks it, so its retry re-puts the partial prefix (duplicates
    * within that unit survive, as with any non-transactional sink) —
    * what the ledger eliminates is the common case, a whole-batch
    * foreachBatch replay after restart double-writing every record. */
  def deliverBatch(batch: DataFrame, cfg: KinesisSinkConfig,
                   batchId: Long = -1L): Unit = {
    val n = cfg.numShards
    val stream = cfg.streamName
    val maxAttempts = cfg.maxAttemptsPerRecord
    val batchSize = cfg.batchSize
    val block = cfg.addBlocksWhenBufferFull
    val idempotent = cfg.idempotentSink && batchId >= 0L
    batch
      .withColumn("shard", Routing.shardFor(col("partition_key"), n))
      .repartition(n, col("shard"))
      .select(col("shard"), col("partition_key"), col("log_json"))
      .foreachPartition { rows: Iterator[Row] =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        if (!(idempotent && InMemoryKinesis.unitDone(stream, batchId, pid))) {
          var muted = false
          rows.grouped(batchSize).foreach { group =>
            group.foreach { row =>
              val shard = row.getInt(0)
              val key = row.getString(1)
              val data = row.getString(2)
              var attempts = 0
              var ok = false
              while (!ok && attempts < maxAttempts) {
                attempts += 1
                ok = InMemoryKinesis.tryPut(stream, shard, key, data, block)
                if (!ok && !muted) {
                  InMemoryKinesis.get(stream).errorLogLines.incrementAndGet()
                  muted = true // mute until a record succeeds (go :211-214)
                }
              }
              if (ok) muted = false // unmute on success (go :219)
              else InMemoryKinesis.get(stream).dropped.incrementAndGet()
            }
          }
          if (idempotent) InMemoryKinesis.markUnit(stream, batchId, pid)
        }
      }
  }

  /** Full producer: file-stream source → V0/V1 projection → routed
    * delivery, flushing every `flushIntervalSec` (S11), with periodic
    * stats reporting every `statIntervalSec` (the reference's
    * StatInterval, go :155-161) whose lifetime is tied to the query via
    * a termination listener. */
  def start(spark: SparkSession, srcDir: String, cfg: KinesisSinkConfig,
            checkpointDir: String): StreamingQuery = {
    val msgs = LogSource.streamRouterMessages(spark, srcDir)
    val payload = Logstash.producerPayload(msgs, cfg.dockerHost, cfg.useV0Layout)
    val query = payload.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.flushIntervalSec * 1000L))
      .foreachBatch { (df: DataFrame, id: Long) => deliverBatch(df, cfg, id) }
      .start()
    if (cfg.statIntervalSec > 0) {
      val reporter =
        new ProducerStatsReporter(cfg.streamName, cfg.statIntervalSec).start()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            reporter.close()
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
    }
    query
  }
}
