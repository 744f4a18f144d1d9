package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for the persist()ed intermediates the self-join
  * operators (minhash/simhash/ngram-Jaccard candidate generation, IVF
  * normed-vector tables, keyword tf) create so their expensive derived
  * table is computed once, not once per join side.
  *
  * Those caches are load-bearing for a single pipeline run but would
  * accumulate indefinitely in a long-lived session (one entry per
  * library call) if nothing released them. Contract:
  *
  *   - operators register every internal persist via [[track]];
  *   - callers invoke [[releaseAll]] once the consuming action has run
  *     (e.g. between pipeline stages, or per batch in a service).
  *
  * The registry holds STRONG handles on purpose: Spark's CacheManager
  * pins the cached plan (and its executor storage) regardless, so a
  * weak handle would only lose the ability to release it — the pinned
  * wrapper object is negligible next to the cache entry it controls.
  *
  * `spark.catalog.clearCache()` remains the blunt per-session
  * equivalent (what TimeQueries uses between timed runs); releaseAll only
  * touches intermediates this library registered.
  *
  * Concurrency caveat: the registry is process-global, so releaseAll()
  * drains tracked persists belonging to ANY in-flight pipeline in the
  * JVM — correctness-safe always (an unpersisted frame recomputes,
  * never corrupts), but in a concurrent multi-tenant session one
  * caller's drain can evict another's load-bearing cache mid-query and
  * cost it a recompute; and whatever the LAST pipeline persisted stays
  * resident until someone drains. Single-pipeline drivers (Verify,
  * TimeQueries, a batch curation job) are the designed use. A service
  * running concurrent pipelines in one session should scope release
  * itself: snapshot-and-release around its own stage boundaries, or
  * fall back to `unpersist` on frames it holds directly.
  */
object Caches {

  private val tracked = new ConcurrentLinkedQueue[DataFrame]

  /** Persist `df` at `lvl` and register it for later release. Returns
    * the persisted frame (same object — persist is a mutation). */
  def track(df: DataFrame,
            lvl: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(lvl)
    tracked.add(p)
    p
  }

  /** Unpersist every tracked intermediate; returns the number
    * released. Safe to call at any time — unpersisting a frame another
    * plan still needs only costs recomputation, never correctness.
    *
    * `dropStaged = true` extends the drain to [[Stage]]'s written
    * artifacts (directories deleted, next caller rebuilds) — the
    * full-lifecycle teardown a long-lived service calls between
    * tenants; the default leaves staged artifacts alone because they
    * are the warehouse tables a production run deliberately reuses. */
  def releaseAll(blocking: Boolean = false,
                 dropStaged: Boolean = false): Int = {
    var n = 0
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking)
      n += 1
      df = tracked.poll()
    }
    if (dropStaged) n += Stage.dropAll()
    n
  }

  /** Number of tracked entries awaiting release (tests/diagnostics). */
  def liveCount: Int = tracked.size()
}
