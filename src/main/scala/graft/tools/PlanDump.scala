package graft.tools
import java.nio.file.{Files, Paths}

/** Dev tool: write .explain("formatted") of named queries to
  * <outDir>/<query>_<suffix>.txt (the plans/r19 deliverable).
  * Usage: runMain graft.tools.PlanDump OUTDIR SUFFIX q1 q2 ...
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
