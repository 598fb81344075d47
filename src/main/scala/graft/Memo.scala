package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** Per-dir memoization of session-cached base relations (the shared-base
  * discipline: one fact scan feeds many registered queries). The wrinkle
  * this helper exists for: a global `clearCache()` (tests do this to get
  * clean plan shapes) unpersists the underlying entry while the memo map
  * still holds the DataFrame — every later consumer would silently
  * re-derive the base INLINE in its own plan, per use. Re-caching a dropped
  * entry on access restores the share.
  *
  * LIFECYCLE: memo entries deliberately live for the session (bases are
  * edge/pair/posting-sized, and the bench's consumers span the whole run),
  * but a long-lived JVM serving many data dirs needs an explicit release
  * path — [[releaseAll]] blocking-unpersists every registered entry and
  * clears the maps, so the next consumer rebuilds from scratch instead of
  * accumulating one cached base per dir forever (the r13 verdict's
  * lifecycle-seam ask; same class as the r12 kcore dead-block drift).
  *
  * CONTRACT: entries are keyed by the data-dir string alone; a data dir
  * must not change inside one JVM, or its entries serve the old contents
  * (the same contract as [[Scratch.Fixture]]).
  */
object Memo {
  // by IDENTITY: map equality is by content, so a content-keyed set refuses
  // a fresh (empty) memo map whenever another registered map is empty too
  // (every map is, after a releaseAll) and releaseAll would never see it
  private val registry = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[
      java.util.concurrent.ConcurrentHashMap[String, DataFrame], java.lang.Boolean]()))

  def cached(
      map: java.util.concurrent.ConcurrentHashMap[String, DataFrame],
      key: String)(build: String => DataFrame): DataFrame = {
    registry.add(map)
    val df = map.computeIfAbsent(key, k => build(k).cache())
    if (df.storageLevel == StorageLevel.NONE) df.cache()
    df
  }

  /** Blocking-unpersist every memoized base and forget it. Safe at any
    * point between queries: consumers re-derive (and re-memoize) on next
    * access. The seam a long-lived deployment calls between tenants/dirs.
    */
  def releaseAll(): Unit = {
    registry.forEach { map =>
      map.values.forEach { df =>
        try df.unpersist(blocking = true)
        catch { case NonFatal(_) => () } // a stopped session has no blocks
      }
      map.clear()
    }
  }
}

/** The one localize-and-release step of a query that caches its own
  * subplans: collect `result` (every caller's result is small — top-K cuts,
  * per-group counts, a census row), release each frame in `release`
  * (blocking), and return the rows as a local DataFrame. Callers keep the
  * lazy-DataFrame contract and the session keeps none of the query's cache
  * entries once it returns.
  *
  * The release runs in a `finally`, so a failed collect still unpins the
  * caches; its exception reaches the caller, with any release error
  * attached as suppressed. BLOCKING: non-blocking eviction let dead blocks
  * pile up across a long-lived JVM's runs (the round-12 kcore drift); the
  * wait is milliseconds against a query that just ran seconds.
  *
  * A cache that the result scans more than once is materialized (`count()`)
  * by the caller before this runs: the collect would otherwise compute an
  * unmaterialized entry once per concurrent leg.
  */
object Localize {
  def apply(result: DataFrame, release: DataFrame*): DataFrame = {
    var failure: Throwable = null
    val rows =
      try result.collect()
      catch { case t: Throwable => failure = t; throw t } // recorded, rethrown
      finally release.foreach { df =>
        try df.unpersist(blocking = true)
        catch { case NonFatal(e) if failure != null => failure.addSuppressed(e) }
      }
    result.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }
}
