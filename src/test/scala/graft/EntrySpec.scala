package graft

/** Smoke check of the flagship entry point: `SparkEntry.entry` (the
  * producer data path on sf0.001) returns rows, shaped as the sink's
  * records. */
class EntrySpec extends SparkTestBase {

  test("entry returns producer records on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("log_json", "partition_key"))
    assert(df.count() > 0, "entry returned no rows")
  }
}
