package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query: its Spark builder and its DuckDB twin, the SQL the
  * correctness gate runs on the same parquet. The record is the builder
  * itself, so `SparkEntry.queries(name)(spark, dir)` builds the plan.
  *
  * The twin is taken by name and built on first read. Only Verify and
  * its spec read twins; building all 390 makes about 2 MB of SQL (an
  * `opq_*` twin alone is about 140 KB) and takes about 0.4 s cold, which
  * a run that only executes queries does not pay. */
final class GatedQuery(build: (SparkSession, String) => DataFrame, twinSql: => String)
    extends ((SparkSession, String) => DataFrame) {
  lazy val twin: String = twinSql
  def apply(spark: SparkSession, dir: String): DataFrame = build(spark, dir)
}

object GatedQuery {
  def apply(build: (SparkSession, String) => DataFrame, twin: => String): GatedQuery =
    new GatedQuery(build, twin)
}
