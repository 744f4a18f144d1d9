package graft.tools

import graft.{Caches, Sessions, SparkEntry}

/** Dev tool: ad-hoc timing of named SparkEntry.queries (all of them when
  * none are named) to full output — `write.format("noop")` computes every
  * output column and keeps the final sort. One untimed warm-up pass
  * (stages artifacts, JIT), then min of 3 runs per query, caches cleared
  * before each run. Queries that throw are listed and the tool exits 1.
  * The repo's benchmark is graftbench (graftbench/README.md).
  * Usage: runMain graft.tools.TimeQueries q1 q2 ...
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS). */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val queries = SparkEntry.queries
    val names = if (args.nonEmpty) args.toSeq else queries.keys.toSeq
    val failed = collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(name: String): Option[Double] = {
      Caches.releaseAll()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        failed.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    }
    names.foreach(timeOnce)
    val mins = names.filterNot(failed.contains).flatMap { n =>
      val ts = Seq.fill(3)(timeOnce(n)).flatten
      if (ts.nonEmpty)
        println(f"[timequeries] $n%-36s min=${ts.min}%8.4f  all=${ts.map(t => f"$t%.3f").mkString(",")}")
      ts.minOption
    }
    println(f"[timequeries] TOTAL ${mins.sum}%.3f (${mins.size} queries)")
    failed.foreach { case (n, err) => println(s"[timequeries] FAILED $n: $err") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
