package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

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
        catch { case scala.util.control.NonFatal(_) => () } // a stopped session has no blocks
      }
      map.clear()
    }
  }
}
