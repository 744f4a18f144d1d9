package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Caches, SparkEntry, Stage}

/** `curate`: the training-data analyst's batch job. One timed pass runs a
  * fixed set of gated queries on the fixture, each to full output, in a
  * seeded order, with the query caches cleared before each query. Set-up
  * runs untimed passes first; the first builds the staged artifacts the
  * queries read. Each query's row count and order-sensitive digest must
  * match the ones recorded in the digests file, in every pass. */
object Curate {
  /** Untimed passes before timing starts, the first included. */
  val WarmPasses = 3
  /** Timed passes per run, at the least. */
  val MinPasses = 3
  val Queries: Seq[String] = Seq(
    "logstash_v1_json", "sessionize", "pricing_summary", "simhash",
    "pagerank_events", "pii_redact")

  def layerTemplate: Seq[M] =
    Queries.flatMap(q => Seq(M(s"SparkEntry.$q.build_plan_s", 0, "s"),
      M(s"SparkEntry.$q.exec_s", 0, "s"))) ++ Seq(
      M("SparkEntry.build_plan_s", 0, "s"), M("SparkEntry.exec_s", 0, "s"),
      M("Stage.builds", 0, "count"), M("Stage.build_s", 0, "s"),
      M("Stage.bytes", 0, "bytes"),
      M("Caches.live_peak", 0, "count"), M("Caches.storage_bytes_peak", 0, "bytes"))

  private def readDigests(path: String): Map[String, DigestSink.Result] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, digest) = l.split("\\s+")
        q -> DigestSink.Result(rows.toLong, digest)
      }.toMap

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val all = SparkEntry.queries
    val recorded = readDigests(ctx.digests)

    val failures = mutable.LinkedHashMap.empty[String, Long]
    val errors = mutable.LinkedHashMap.empty[String, String]
    /** Runs `body` for query `q` after clearing the query caches; a throw
      * counts as a failure of `q` and the run goes on. */
    def attempt(q: String)(body: => Unit): Unit = {
      Caches.releaseAll()
      spark.catalog.clearCache()
      try body
      catch {
        case e: Throwable =>
          failures(q) = failures.getOrElse(q, 0L) + 1L
          errors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          System.err.println(s"[graftbench] curate: $q failed: ${errors(q)}")
      }
    }

    val planS, execS = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val got = mutable.LinkedHashMap.empty[String, DigestSink.Result]
    var livePeak = 0
    var storagePeak = 0L
    /** One pass over the queries in `order`, each to full output, its row
      * count and digest checked; returns the pass's wall and CPU seconds.
      * A timed pass also records each query's times and the cache peaks. */
    def pass(order: Seq[String], timed: Boolean): (Double, Double) = {
      val p0 = System.nanoTime()
      val cpu0 = Cpu.processS()
      order.foreach(q => attempt(q) {
        val a = System.nanoTime()
        val df = ctx.tracer.span(s"SparkEntry.$q.build_plan") {
          val d = all(q)(spark, ctx.dataDir)
          if (ctx.tracer.on) d.queryExecution.executedPlan
          d
        }
        val b = System.nanoTime()
        ctx.tracer.span(s"SparkEntry.$q.exec") {
          df.write.format(classOf[DigestSink].getName).mode("append")
            .option("id", q).save()
        }
        val c = System.nanoTime()
        if (timed) {
          planS(q) = planS.getOrElse(q, Nil) :+ (b - a) / 1e9
          execS(q) = execS.getOrElse(q, Nil) :+ (c - b) / 1e9
          livePeak = math.max(livePeak, Caches.liveCount)
          if (ctx.tracer.on) storagePeak = math.max(storagePeak,
            spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
        }
        val r = DigestSink.result(q).getOrElse(
          throw new IllegalStateException("the sink published no digest"))
        if (got.get(q).exists(_ != r))
          throw new IllegalStateException(s"output $r differs from the first pass's ${got(q)}")
        got(q) = r
        if (!recorded.get(q).contains(r))
          throw new IllegalStateException(
            s"output $r differs from the recorded ${recorded.getOrElse(q, "(none)")}")
      })
      ((System.nanoTime() - p0) / 1e9, Cpu.processS() - cpu0)
    }

    val rnd = new scala.util.Random(ctx.seed)
    val orders = mutable.ArrayBuffer.empty[Seq[String]]
    // set-up: untimed passes; the first, in the listed order, builds the
    // staged artifacts the queries read, the rest bring the JIT closer to
    // a pass's steady cost
    val warmS = ctx.tracer.span("warmup") {
      pass(Queries, timed = false)._1 +:
        (1 until WarmPasses).map(_ => pass(rnd.shuffle(Queries), timed = false)._1)
    }
    val setupS = ctx.sinceStartS()
    ctx.tasks.reset()

    val passS, passCpuS = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    // timed passes: at least MinPasses, more while the run has measured
    // less than --seconds; each pass in its own seeded order
    while (passS.size < MinPasses || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val order = rnd.shuffle(Queries)
      orders += order
      val (w, c) = pass(order, timed = true)
      passS += w
      passCpuS += c
    }

    val lat = Queries.flatMap(q => planS.getOrElse(q, Nil).zip(execS.getOrElse(q, Nil)))
      .map { case (p, e) => (p + e) * 1e3 }
    // each query's median wall time over the timed passes, plan + action
    val queryMs = Queries.filter(planS.contains).map(q =>
      Stats.median(planS(q).zip(execS(q)).map { case (p, e) => (p + e) * 1e3 }))
    val staged = Stage.builds.map(_._2)
    def perPass(xs: Iterable[Seq[Double]]): Double = xs.map(_.sum).sum / passS.size
    val layers = if (!ctx.tracer.on) Nil else {
      val sparkLayer = ctx.tasks.metrics
      Queries.flatMap(q => Seq(
        M(s"SparkEntry.$q.build_plan_s", Stats.median(planS.getOrElse(q, Nil)), "s"),
        M(s"SparkEntry.$q.exec_s", Stats.median(execS.getOrElse(q, Nil)), "s"))) ++ Seq(
        M("SparkEntry.build_plan_s", perPass(planS.values), "s"),
        M("SparkEntry.exec_s", perPass(execS.values), "s"),
        M("latency_p99_ms", Stats.pct(lat, 99), "ms"),
        M("Stage.builds", staged.size.toDouble, "count"),
        M("Stage.build_s", staged.map(_.buildSec).sum, "s"),
        M("Stage.bytes", staged.map(_.bytes).sum.toDouble, "bytes"),
        M("Caches.live_peak", livePeak.toDouble, "count"),
        M("Caches.storage_bytes_peak", storagePeak.toDouble, "bytes"),
        M("process.cpu_s", Stats.median(passCpuS.toSeq), "s"),
        M("operators.Logstash.payload_s", Streams.payloadSeconds(ctx,
          graft.sources.LogSource.readEvents(spark, ctx.dataDir),
          graft.model.KinesisSinkConfig("").dockerHost), "s")) ++ sparkLayer
    }
    // the untimed passes count too: a query that throws there is a failure
    Outcome(Queries.size.toLong * (passS.size + WarmPasses), failures.toMap,
      Seq(
        M("setup_s", setupS, "s"),
        // typical query latency: geometric mean of each query's median
        M("latency_ms", Stats.geomean(queryMs), "ms"),
        // typical pass: the sum of each query's median, so one slow query
        // in one pass does not move it
        M("work_s", queryMs.sum / 1e3, "s")),
      layers,
      Map("orders" -> orders, "warm_pass_s" -> warmS, "pass_s" -> passS,
        "pass_cpu_s" -> passCpuS, "errors" -> errors,
        "outputs" -> got.map { case (q, r) => q -> s"${r.rows} ${r.digest}" }))
  }
}
