package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Routing
import graft.sources.LogSource
import graft.streaming.InMemoryKinesis

/** `backfill`: catch-up after an outage, as a closed loop in two timed
  * phases on one stream.
  *
  *  - put: a pre-written backlog (a seeded pick of the events fixture
  *    with shifted, seed-dependent event ids) goes through one
  *    `ProducerPipeline.start` per docker host; the hosts' partition keys
  *    hash to distinct shards and the stream's capacity holds the whole
  *    backlog;
  *  - drain: one `graft-kinesis` consumer reads from the earliest offset,
  *    500 records per shard per batch, with no trigger interval.
  *
  * A record's latency runs from the start of the put phase to the end of
  * the consumer batch that delivered it. */
object Backfill {
  /** Records in the backlog every cycle puts and drains. */
  val Backlog = 20000
  val FilesPerHost = 4
  /** Untimed cycles before timing starts: a cycle comes close to its
    * steady cost only once the JIT has compiled the streaming path. */
  val WarmCycles = 2
  /** Timed put + drain cycles per run, at the least. */
  val MinCycles = 4

  /** Docker host names whose partition keys route to shards 0..n-1. */
  def hostsPerShard(ctx: Ctx): IndexedSeq[String] = {
    val names = (0 until 64).map(i => s"backfill-host-$i")
    val shards = ctx.spark.range(1)
      .select(names.map(n => Routing.shardFor(lit(n), Streams.Shards)): _*)
      .head()
    (0 until Streams.Shards).map { s =>
      names(names.indices.find(i => shards.getInt(i) == s).getOrElse(
        throw new IllegalStateException(s"no host routes to shard $s")))
    }
  }

  final case class Cycle(offered: Long, putS: Double, drainS: Double,
                         workS: Double, cpuS: Double, latMs: Seq[Double],
                         failures: Map[String, Long], layers: Seq[M])

  /** Write `rows` as [[FilesPerHost]] files per host under
    * `dir/h<k>/events.parquet`, rows placed by a seeded hash of their id;
    * returns each host's directory (the parent of `events.parquet`). */
  private def writeBacklog(ctx: Ctx, rows: Seq[Row], dir: String,
                           hosts: Int): IndexedSeq[String] = {
    val parts = hosts * FilesPerHost
    rows.groupBy(r => Math.floorMod(
        java.lang.Long.hashCode((r.getLong(0) + ctx.seed) * 0x9E3779B97F4A7C15L), parts))
      .foreach { case (p, rs) =>
        Streams.writeFile(rs, Paths.get(
          f"$dir/h${p / FilesPerHost}/events.parquet/f-$p%06d.parquet"))
      }
    (0 until hosts).map(h => s"$dir/h$h")
  }

  private def expected(ctx: Ctx, hostDirs: IndexedSeq[String],
                       hosts: IndexedSeq[String]): Map[Long, (String, String)] =
    ctx.tracer.span("expected.payloads") {
      hostDirs.indices.flatMap(h =>
        Streams.expectedPayloads(ctx.spark, hostDirs(h), hosts(h))).toMap
    }

  /** One put + drain of the files under `hostDirs` over a fresh stream,
    * with checkpoints under `dir`. */
  private def cycle(ctx: Ctx, dir: String, hostDirs: IndexedSeq[String],
                    hosts: IndexedSeq[String],
                    expected: Map[Long, (String, String)], traced: Boolean): Cycle =
    ctx.tracer.span("cycle") {
      val total = expected.size
      val stream = s"backfill-${java.util.UUID.randomUUID()}"
      val kinesis = InMemoryKinesis.create(stream, Streams.Shards, total)
      try {
        ctx.tasks.reset()
        // ---- put
        val t0 = System.nanoTime()
        val cpu0 = Cpu.processS()
        val producers = hostDirs.indices.map { h =>
          Streams.startProducer(ctx, s"${hostDirs(h)}/events.parquet",
            Streams.producerConfig(stream, hosts(h)), s"$dir/ckpt-producer-$h")
        }
        val put = Streams.await(30)(kinesis.putAttempts.get()) {
          kinesis.delivered.get() + kinesis.dropped.get() >= total
        }
        val t1 = System.nanoTime()
        producers.foreach(_.stop())
        if (!put) System.err.println(s"[graftbench] backfill: put stalled at ${kinesis.delivered.get()} of $total")
        // ---- drain
        val sink = new Collector(ctx, stream, expected)
        val t2 = System.nanoTime()
        val consumer = Streams.startConsumer(ctx, stream, sink, s"$dir/ckpt-consumer")
        val drained = Streams.await(10)(sink.rows)(sink.rows >= kinesis.delivered.get())
        val t3 = sink.lastBatchEndNs
        val cpu1 = Cpu.processS()
        org.apache.spark.ListenerDrain(ctx.spark.sparkContext)
        consumer.stop()
        if (!drained) System.err.println(s"[graftbench] backfill: drain stalled at ${sink.rows} of ${kinesis.delivered.get()}")

        val layers = if (!traced) Nil else {
          val ps = ctx.progress
          Layers.streaming("sources.KinesisLikeSource", Layers.consumerPhases,
            ps.batches(Set(consumer.id))) ++
            Seq(M("sources.KinesisLikeSource.lag_records_max",
              Layers.lagMax(ps.batches(Set(consumer.id))), "count")) ++
            Layers.streaming("streaming.ProducerPipeline", Layers.producerPhases,
              ps.batches(producers.map(_.id).toSet)) ++
            Layers.kinesis(kinesis, sink.backlogMax, InMemoryKinesis.shardCounts(stream)) ++
            ctx.tasks.metrics
        }
        Cycle(total.toLong, (t1 - t0) / 1e9, (t3 - t2) / 1e9, (t3 - t0) / 1e9,
          cpu1 - cpu0, sink.deliveredAt.values.map(at => (at - t0) / 1e6).toSeq,
          sink.failures(), layers)
      } finally InMemoryKinesis.delete(stream)
    }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val dir = s"${ctx.runDir}/backfill"
    val hosts = hostsPerShard(ctx)
    // a seeded pick of the fixture, with ids shifted by a seed-dependent base
    val base = (Math.floorMod(ctx.seed, 1000L) + 1L) * 1000000000L
    val backlog = new scala.util.Random(ctx.seed)
      .shuffle(Streams.rawEvents(spark, ctx.dataDir).collect().toSeq)
      .take(Backlog).map(e => Streams.withId(e, e.getLong(0) + base))
    val backlogDirs = ctx.tracer.span("loadgen.write") {
      writeBacklog(ctx, backlog, s"$dir/backlog", hosts.size)
    }
    val want = expected(ctx, backlogDirs, hosts)
    // untimed warm-up cycles over the same backlog
    val ws = (0 until WarmCycles).map(i =>
      cycle(ctx, s"$dir/w$i", backlogDirs, hosts, want, traced = false))
    val setupS = ctx.sinceStartS()

    // timed cycles over the backlog: at least MinCycles, more while the
    // run has measured less than --seconds
    val t0 = System.nanoTime()
    val cs = mutable.ArrayBuffer.empty[Cycle]
    while (cs.size < MinCycles || System.nanoTime() - t0 < ctx.seconds * 1e9)
      cs += cycle(ctx, s"$dir/c${cs.size}", backlogDirs, hosts, want, ctx.tracer.on)
    def med(f: Cycle => Double): Double = Stats.median(cs.toSeq.map(f))
    val layers = if (!ctx.tracer.on) Nil else cs.last.layers ++ Seq(
      M("latency_p99_ms", med(c => Stats.pct(c.latMs, 99)), "ms"),
      M("backfill.put_rps", med(c => c.offered / c.putS), "1/s"),
      M("backfill.drain_rps", med(c => c.offered / c.drainS), "1/s"),
      M("process.cpu_s", med(_.cpuS), "s"),
      M("operators.Logstash.payload_s", Streams.payloadSeconds(ctx,
        backlogDirs.map(d => LogSource.readEvents(spark, d)).reduce(_ unionByName _),
        hosts.head), "s"))
    val all = ws ++ cs
    val failures = all.flatMap(_.failures).groupMapReduce(_._1)(_._2)(_ + _)
    Outcome(all.map(_.offered).sum, failures,
      Seq(
        M("setup_s", setupS, "s"),
        M("latency_ms", med(c => Stats.pct(c.latMs, 50)), "ms"),
        M("work_s", med(_.workS), "s")),
      layers,
      Map("cycles" -> cs.map(c => Map("put_s" -> c.putS, "drain_s" -> c.drainS,
          "work_s" -> c.workS, "cpu_s" -> c.cpuS, "latency_p50_ms" -> Stats.pct(c.latMs, 50))),
        "warm_work_s" -> ws.map(_.workS), "backlog_records" -> Backlog, "hosts" -> hosts))
  }
}
