package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, NullsFirst, NullsLast, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Sort}
import org.apache.spark.sql.functions.col

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (every registry entry's DuckDB twin, by name), for
  * the DuckDB compare.
  *
  * The driver's hash is ROW-ORDER-sensitive: the written parquet must
  * enumerate rows exactly as the oracle SQL's ORDER BY does. Every
  * query therefore ends in a global Sort — but between that Sort and
  * the coalesce(1)d single-file write the order guarantee is implicit
  * (it rides on coalesce preserving partition-index order). The r6
  * driver artifact recorded one hash-only mismatch (`pack_sequences`)
  * that never reproduced locally — exactly the signature of an
  * order-stability fragility. So make the guarantee explicit: lift the
  * query's own sort keys off its analyzed plan and re-apply them as a
  * partition-local sort AFTER the coalesce, making row order the last
  * operator's contract, whatever the upstream plan did. A query whose
  * order cannot be lifted fails like a query that throws.
  */
object Verify {

  /** Sort keys of the query's final global ORDER BY (looking through a
    * trailing LIMIT, e.g. fetch_limit's orderBy().limit(n)). */
  def topSortKeys(plan: LogicalPlan): Seq[SortOrder] = plan match {
    case s: Sort if s.global   => s.order
    case GlobalLimit(_, child) => topSortKeys(child)
    case LocalLimit(_, child)  => topSortKeys(child)
    case _                     => Seq.empty
  }

  /** Re-express plan SortOrders as API columns — possible exactly when
    * every key is a plain output attribute (true for all queries: the
    * oracle's ORDER BY references output columns too). */
  def sortCols(order: Seq[SortOrder]): Seq[Column] = order.flatMap { o =>
    o.child match {
      case a: AttributeReference =>
        val c = col(a.name)
        Some((o.direction, o.nullOrdering) match {
          case (Ascending, NullsFirst)  => c.asc_nulls_first
          case (Ascending, NullsLast)   => c.asc_nulls_last
          case (Descending, NullsFirst) => c.desc_nulls_first
          case (Descending, NullsLast)  => c.desc_nulls_last
        })
      case _ => None
    }
  }

  /** One partition, rows in the query's own declared order — enforced
    * by a local sort directly under the write. Refuses (throws) a frame
    * without a liftable global ORDER BY: its written row order would be
    * whatever coalesce produced. */
  def orderedSingleFile(df: DataFrame): DataFrame = {
    val keys = topSortKeys(df.queryExecution.analyzed)
    val cols = sortCols(keys)
    require(keys.nonEmpty && cols.size == keys.size,
      "no liftable global ORDER BY: written row order would be undefined")
    df.coalesce(1).sortWithinPartitions(cols: _*)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional dev-only filter: comma-separated query names (the driver
    // always passes exactly two args, so the gate path is unchanged)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Defense (VERDICT r18): an empty selection would write an empty
    // artifact that reads as a vacuous pass downstream — fail loudly.
    require(selected.nonEmpty,
      s"Verify selected zero queries (registry=${SparkEntry.queries.size}," +
        s" only=$only) — refusing to emit an empty correctness artifact")
    selected.foreach { case (name, query) =>
      // release the previous query's tracked persists: 65 queries in
      // one session would otherwise stack cache entries + plan handles
      Caches.releaseAll()
      val t0 = System.nanoTime()
      try {
        orderedSingleFile(query(spark, sfDir)).write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      catch { case e: Throwable =>
        // delete any stale output from a previous run — leftover parquet
        // would otherwise be compared and silently mask the failure
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete()); dir.delete()
        }
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.queries
      .map { case (k, v) => s"${q(k)}: ${q(v.twin)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
