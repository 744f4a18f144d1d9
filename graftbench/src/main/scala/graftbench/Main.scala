package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload runs with. `dataDir` holds the parquet fixture; every
  * file the run writes goes under `runDir`. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     tracer: Tracer, tasks: TaskCounters, progress: ProgressLog,
                     runDir: String, dataDir: String, digests: String) {
  /** Seconds since the JVM started: set-up ends where measuring begins. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** A metric: name, value, unit. */
final case class M(name: String, value: Double, unit: String)

final case class Outcome(attempted: Long, failures: Map[String, Long],
                         endToEnd: Seq[M], layers: Seq[M],
                         details: Map[String, Any] = Map.empty) {
  def failed: Long = failures.values.sum
}

/** One benchmark run of one workload in this JVM. Prints the result as
  * the last stdout line and writes it to `--result`; a traced run also
  * writes its per-layer record and spans to `--trace-out`. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "backfill" -> Backfill.run, "curate" -> Curate.run)

  /** Every per-layer metric with the value an idle layer reports: each
    * workload prints all of them, in this order. */
  def layerTemplate: Seq[M] = {
    val idleStream = new graft.streaming.InMemoryKinesis.Stream(1, 1)
    (Layers.streaming("sources.KinesisLikeSource", Layers.consumerPhases, Nil) ++
      Seq(M("sources.KinesisLikeSource.lag_records_max", 0, "count")) ++
      Layers.streaming("streaming.ProducerPipeline", Layers.producerPhases, Nil) ++
      Seq(M("operators.Logstash.payload_s", 0, "s")) ++
      Layers.kinesis(idleStream, 0L, Nil) ++
      Seq(M("latency_p99_ms", 0, "ms"), M("process.cpu_s", 0, "s"),
        M("backfill.put_rps", 0, "1/s"), M("backfill.drain_rps", 0, "1/s")) ++
      Curate.layerTemplate ++
      new TaskCounters().metrics)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val trace = opt("trace") == "1"
    val runDir = opt("run-dir")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tasks = new TaskCounters
    val progress = new ProgressLog
    if (trace) {
      spark.sparkContext.addSparkListener(tasks)
      spark.streams.addListener(progress)
    }
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt, new Tracer(trace),
      tasks, progress, runDir, opt("data"), opt("digests"))
    val out =
      try run(ctx)
      finally org.apache.spark.ListenerDrain(spark.sparkContext)

    val measured = out.layers.map(m => m.name -> m).toMap
    val layers = layerTemplate.map(t => measured.getOrElse(t.name, t))
    val shown = if (trace) layers else out.endToEnd
    val result = Json.obj(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.obj(shown.map(m =>
        m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*))
    val line = Json.write(result)
    // the result file also carries the run's details, for the run record
    write(opt("result"), Json.write(result.clone() += ("details" -> out.details)))
    if (trace) write(opt("trace-out"), Json.write(Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "cores" -> cores, "session_start_s" -> sessionS,
      "correct" -> (out.failed == 0), "failures" -> out.failures,
      "end_to_end_traced" -> Json.obj(out.endToEnd.map(m => m.name -> m.value): _*),
      "per_layer" -> Json.obj(layers.map(m =>
        m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*),
      "details" -> out.details,
      "spans" -> ctx.tracer.toJson)))
    if (out.failed > 0) System.err.println(s"[graftbench] failures: ${out.failures}")
    spark.stop()
    println(line)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(StandardCharsets.UTF_8)): Unit
}
