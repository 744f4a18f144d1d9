package graft

/** Gate for the driver-hash order contract (VERDICT r6 "Next round" #1):
  * the driver hashes rows IN ORDER, so a query whose written row order
  * could drift from its oracle's ORDER BY is a latent hash-red even when
  * every value matches. Two invariants, asserted for every SparkEntry
  * query at sf0.001:
  *
  *   1. the query ends in a global Sort (possibly under a LIMIT) — a
  *      query with no ORDER BY has no defined row order at all;
  *   2. every sort key is a plain output attribute, so Verify can lift
  *      the keys and RE-ENFORCE the order with a partition-local sort
  *      after coalesce(1) — the written file's order then comes from
  *      the last operator before the write, not from an implicit
  *      order-preservation argument about coalesce.
  *
  * NB building the plans has the same side effects PlansSpec documents
  * (kinesis populate job, tracked persists) — drained at the end.
  */
class VerifyOrderSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("every registry twin is non-blank SQL") {
    // Verify writes oracle_sql.json from these twins and check_oracle.py
    // iterates its keys: a blank twin, or an empty registry (the r18 `{}`
    // artifact), would pass the gate unchecked. Forces every lazy twin.
    assert(SparkEntry.queries.nonEmpty, "empty registry")
    val blank = SparkEntry.queries.collect { case (n, q) if q.twin.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank twins: ${blank.toSeq.sorted}")
  }

  test("every query ends in a liftable global ORDER BY") {
    try {
      SparkEntry.queries.foreach { case (name, fn) =>
        val keys = Verify.topSortKeys(fn(spark, sf).queryExecution.analyzed)
        assert(keys.nonEmpty,
          s"$name has no top-level global sort — driver hash is row-order-sensitive")
        assert(Verify.sortCols(keys).size == keys.size,
          s"$name sort keys are not plain output attributes — Verify cannot re-enforce order")
      }
    } finally Caches.releaseAll()
  }

  test("ties on the sort keys are hash-stable (identical full rows)") {
    // the driver hash is row-order-sensitive: if two DIFFERENT rows tie
    // on a query's ORDER BY keys, their relative order in the written
    // file is planner-dependent and the hash can flicker between runs
    // even with Verify's enforcement (a local sort cannot order what
    // the keys don't distinguish). Assert the gate-relevant totality:
    // within any tie group the full rows are identical, so every tie
    // permutation hashes the same. Executes all queries at sf0.001 —
    // doubles as an end-to-end smoke.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    try {
      SparkEntry.queries.foreach { case (name, fn) =>
        val df = fn(spark, sf)
        val keyNames = Verify.topSortKeys(df.queryExecution.analyzed)
          .map(_.child.asInstanceOf[AttributeReference].name)
        // reserved alias: a query output column named "n" (pmi_phrases)
        // must not collide with the harness's own aggregate.
        // coalesce: max over an EMPTY aggregate is NULL — an empty query
        // result trivially has no unstable ties, but it deserves its own
        // readable failure (a 0-row gated query at sf0.001 is almost
        // always an upstream bug, e.g. the r10 ts-unit regression).
        val worst = df
          .groupBy(keyNames.map(col): _*)
          .agg(countDistinct(struct(df.columns.map(col): _*)).as("__tie_n"))
          .agg(coalesce(max(col("__tie_n")), lit(-1L))).head().getLong(0)
        assert(worst != -1L,
          s"$name: query returned 0 rows at sf0.001 — likely an upstream source/unit bug")
        assert(worst <= 1L,
          s"$name: distinct rows tie on ORDER BY ${keyNames.mkString(", ")} — driver hash unstable")
      }
    } finally Caches.releaseAll()
  }

  test("orderedSingleFile enforces the declared order even on disordered input") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // simulate the failure class: a frame whose partition order is NOT
    // the declared order (descending-ish arrival), declared ORDER BY id
    val df = spark.range(0, 1000).select(col("id"))
      .repartition(7, pmod(col("id") * 37 + 11, lit(7)))
      .orderBy("id")
    val out = Verify.orderedSingleFile(df)
    assert(out.rdd.getNumPartitions == 1)
    val ids = out.as[Long].collect()
    assert(ids.sameElements(ids.sorted), "written order must be the declared ORDER BY")
  }

  test("orderedSingleFile refuses a frame with no ORDER BY") {
    // Verify turns the refusal into a failed query: stale output
    // deleted, `[verify] <name> failed` logged
    val e = intercept[IllegalArgumentException](
      Verify.orderedSingleFile(spark.range(0, 100).toDF()))
    assert(e.getMessage.contains("ORDER BY"))
  }

  test("topSortKeys looks through a trailing LIMIT (fetch_limit shape)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 100).orderBy(col("id").desc).limit(10)
    val keys = Verify.topSortKeys(df.queryExecution.analyzed)
    assert(keys.size == 1 && Verify.sortCols(keys).size == 1)
  }
}
