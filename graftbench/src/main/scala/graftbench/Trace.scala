package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Spans recorded from the benchmark's side of each layer boundary:
  * name, start, end and the span that caused it. Kept in memory and
  * written once at exit. With tracing off every call is a pass-through. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }
  val originNs: Long = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        current.set(parent)
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
      }
    }

  def toJson: Any = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> (s.startNs - originNs) / 1e6,
      "end_ms" -> (s.endNs - originNs) / 1e6)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long)
}

/** Task-level counters of every Spark job that ends while registered. */
final class TaskCounters extends SparkListener {
  val jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, input =
    new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Start counting afresh (at the start of the measured window). */
  def reset(): Unit =
    Seq(jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, input).foreach(_.set(0L))

  def metrics: Seq[M] = Seq(
    M("spark.jobs", jobs.get().toDouble, "count"),
    M("spark.tasks", tasks.get().toDouble, "count"),
    M("spark.executor_run_s", runMs.get() / 1e3, "s"),
    M("spark.executor_cpu_s", cpuNs.get() / 1e9, "s"),
    M("spark.gc_s", gcMs.get() / 1e3, "s"),
    M("spark.shuffle_write_bytes", shuffleWrite.get().toDouble, "bytes"),
    M("spark.spill_bytes", spill.get().toDouble, "bytes"),
    M("spark.input_bytes", input.get().toDouble, "bytes"))
}

/** Every `StreamingQueryProgress`, with the id of the query it came from. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    events.add(e.progress): Unit
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Progress events that carried data, of the queries in `ids`. */
  def batches(ids: Set[java.util.UUID]): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(p => ids(p.id) && p.numInputRows > 0)
}

object Layers {
  private val phases = Seq(
    "latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
    "queryPlanning" -> "planning_ms", "addBatch" -> "add_batch_ms",
    "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")

  /** p50/p95 of the micro-batch phase durations `keep` of one streaming
    * layer, plus its batch count and rows per batch. Idle layers report
    * zeros. */
  def streaming(layer: String, keep: Set[String],
                ps: Seq[StreamingQueryProgress]): Seq[M] = {
    val timed = phases.filter { case (_, n) => keep(n) }.flatMap { case (k, n) =>
      val xs = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0d))
      Seq(M(s"$layer.${n}_p50", Stats.pct(xs, 50), "ms"),
        M(s"$layer.${n}_p95", Stats.pct(xs, 95), "ms"))
    }
    val rows = ps.map(_.numInputRows.toDouble)
    timed ++ Seq(
      M(s"$layer.rows_per_batch", if (rows.isEmpty) 0d else rows.sum / rows.size, "rows"),
      M(s"$layer.batches", ps.size.toDouble, "count"))
  }

  val consumerPhases: Set[String] = phases.map(_._2).toSet
  val producerPhases: Set[String] =
    Set("add_batch_ms", "get_batch_ms", "planning_ms", "wal_commit_ms")

  /** Records admitted by the source but not yet planned, per progress
    * event: reported high-water marks minus the batch's end offsets. */
  def lagMax(ps: Seq[StreamingQueryProgress]): Double =
    ps.flatMap(_.sources.headOption).map { s =>
      val latest = graft.sources.ShardOffsets.fromJson(Option(s.latestOffset).getOrElse("{}")).pos
      val end = graft.sources.ShardOffsets.fromJson(Option(s.endOffset).getOrElse("{}")).pos
      latest.map { case (i, v) => math.max(0L, v - end.getOrElse(i, 0L)) }.sum.toDouble
    }.maxOption.getOrElse(0d)

  /** The stream service's own counters. `backlogMax` is sampled by the
    * caller; skew is the fullest shard over the mean shard. */
  def kinesis(s: graft.streaming.InMemoryKinesis.Stream, backlogMax: Long,
              shardCounts: Seq[Long]): Seq[M] = {
    val mean = if (shardCounts.isEmpty) 0d else shardCounts.sum.toDouble / shardCounts.size
    Seq(
      M("InMemoryKinesis.put_attempts", s.putAttempts.get().toDouble, "count"),
      M("InMemoryKinesis.delivered", s.delivered.get().toDouble, "count"),
      M("InMemoryKinesis.dropped", s.dropped.get().toDouble, "count"),
      M("InMemoryKinesis.error_log_lines", s.errorLogLines.get().toDouble, "count"),
      M("InMemoryKinesis.attempts_per_delivered",
        if (s.delivered.get() == 0) 0d else s.putAttempts.get().toDouble / s.delivered.get(),
        "ratio"),
      M("InMemoryKinesis.backlog_max", backlogMax.toDouble, "count"),
      M("InMemoryKinesis.shard_skew",
        if (mean == 0d) 0d else shardCounts.max / mean, "ratio"))
  }
}

/** CPU time of this process, all its threads (GC and JIT included). On a
  * shared host it rises with the neighbours' load much as wall time does
  * (the kernel leaves out stolen time, but not slower cores), so it is a
  * per-layer figure, not a steadier end-to-end one. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processS(): Double = os.getProcessCpuTime / 1e9
}

object Stats {
  /** Linear-interpolated percentile (0 for an empty sample). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0d
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = (s.size - 1) * q / 100d
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0d else math.exp(xs.map(math.log).sum / xs.size)
}

/** JSON output through json4s, which Spark ships. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(v: AnyRef): String = Serialization.write(v)

  /** Ordered object: keeps insertion order in the output. */
  def obj(kvs: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kvs: _*)
}
