package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the mains (Verify, TimeQueries, PlanDump)
  * and the test suite, so their configs cannot drift apart. */
object Sessions {

  /** Local session on `cores` cores: master `local[cores]`, one shuffle
    * partition per core, UTC session time zone (`Logstash.rfc3339Nano`
    * formats in the session zone), no UI, log level WARN. The mains
    * take `cores` from `SPARK_GRAFT_CPUS` (default 32). */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
