package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GDPR-erasure propagation into PERSISTED SERVING INDEXES — the one
  * pattern every immutable-file index in the engine shares (minhash
  * near-dup, inverted text, IVF / IVF-PQ): erasing a row from the governed
  * TABLE (`TableLog.deleteWhere`) must reach every index serving that row,
  * without rewriting the index's immutable files.
  *
  * Mechanics (merge-on-read, cost ∝ erasures, never corpus):
  *  - a VERSIONED tombstone sidecar `<index>/_tombstones` holds
  *    `(id, ver, alive)` marks; the underscore prefix keeps Spark's file
  *    index from ever reading it as table data (the `_delta_log`
  *    discipline), so the sidecar can live INSIDE a parquet index dir;
  *  - an id is excluded iff its LATEST mark is a delete —
  *    `max(struct(ver, alive))` per id, alive winning a same-version tie
  *    (a commit whose churn deletes and re-inserts a row nets to live);
  *  - [[propagate]] follows the table's change feed with a durable cursor
  *    and marks only the NET effect of each consumed range: a compaction
  *    (`optimize`/`zorder`), `commitOverwrite` or `rollbackTo` emits
  *    delete+insert churn for rows that stay live, and per id only the
  *    latest event decides — churn tombstones nothing. An insert landing
  *    on an already-excluded id appends a resurrection mark: the index's
  *    immutable rows were never removed, so the row serves again, matching
  *    a from-scratch rebuild of the new snapshot;
  *  - duplicate marks collapse in the read-side groupBy, so the follower's
  *    at-least-once delivery is exactly-once in effect.
  */
object Erasure {

  private def sidecar(indexPath: String): String = indexPath + "/_tombstones"

  /** ids currently erased from the index at `indexPath` — None when the
    * index has never seen an erasure (the read path then pays NOTHING)
    */
  def exclusions(
      s: SparkSession, indexPath: String, idCol: String): Option[DataFrame] =
    if (new java.io.File(sidecar(indexPath)).exists())
      Some(s.read.parquet(sidecar(indexPath))
        .groupBy(idCol)
        .agg(max(struct(col("ver"), col("alive"))).as("last"))
        .where(!col("last.alive"))
        .select(idCol))
    else None

  private def mark(indexPath: String, ids: DataFrame, idCol: String,
      ver: Long, alive: Boolean): Unit = {
    ids.select(col(idCol), lit(ver).as("ver"), lit(alive).as("alive"))
      .write.mode("append").parquet(sidecar(indexPath))
    ()
  }

  /** Append erasures to the index's tombstone sidecar (idempotent). The
    * default version is Long.MaxValue: a DIRECT out-of-band erasure (a
    * GDPR order, not a table commit) is terminal — no feed event can
    * resurrect it short of an index rebuild. [[propagate]] passes the
    * commit version instead, so feed-driven erasures stay revisable by
    * later feed inserts.
    */
  def erase(s: SparkSession, indexPath: String, ids: DataFrame,
      idCol: String, ver: Long = Long.MaxValue): Unit =
    mark(indexPath, ids, idCol, ver, alive = false)

  /** Apply one consumed change-feed range to the index sidecar: mark the
    * NET-deleted ids as tombstones at version `to`, and net-re-inserted,
    * previously excluded ids as resurrections — the shared body of the
    * polling [[propagate]] and the streaming
    * [[graft.streaming.StreamIngest.erasurePropagationStream]]. `to` must
    * be deterministic for the range (the range head / the batch's max
    * commit version), which is what makes replayed marks byte-identical
    * and therefore exactly-once in effect.
    */
  private[graft] def applyNet(s: SparkSession, feed: DataFrame,
      indexPath: String, idCol: String, to: Long): Unit = {
    val last = feed.groupBy(col(idCol))
      .agg(max(struct(col("_commit_version"),
        (col("_change_type") === "insert").as("ins"))).as("last"))
      .cache()
    val netDel = last.where(!col("last.ins")).select(idCol)
    val tomb = exclusions(s, indexPath, idCol)
    if (!netDel.isEmpty) mark(indexPath, netDel, idCol, to, alive = false)
    tomb.foreach { t =>
      val res = last.where(col("last.ins")).select(idCol)
        .join(t, Seq(idCol), "left_semi")
      if (!res.isEmpty) mark(indexPath, res, idCol, to, alive = true)
    }
    last.unpersist(blocking = true)
    ()
  }

  /** Consume the governed table's unseen (cursor, head] commits and mark
    * the NET-deleted ids as tombstones (and net-re-inserted, previously
    * excluded ids as resurrections) in the index sidecar — see the object
    * doc for the laws. Returns the processed range or None when caught up.
    */
  def propagate(s: SparkSession, table: String, indexPath: String,
      cursorFile: String, idCol: String): Option[(Long, Long)] =
    graft.sources.TableLog.followChanges(s, table, cursorFile) { (feed, _, to) =>
      applyNet(s, feed, indexPath, idCol, to)
    }

  /** Merge-on-read: subtract the index's erased ids from a serving
    * relation. No join hint: a small erasure set broadcasts from file
    * stats, a mass erasure degrades to a shuffle join instead of OOMing.
    */
  def subtract(s: SparkSession, indexPath: String, idCol: String)(
      df: DataFrame): DataFrame =
    exclusions(s, indexPath, idCol)
      // re-select: a USING anti-join moves the key column first, and the
      // serving relation's column order is part of its contract
      .map(t => df.join(t, Seq(idCol), "left_anti")
        .select(df.columns.map(col).toSeq: _*))
      .getOrElse(df)

  /** COMPACT the tombstone sidecar: collapse it to ONE row per id ever
    * marked — the id's LAST (ver, alive) mark — then drop the old files.
    * The OPTIMIZE step of the sidecar's merge-on-read design, bounding its
    * growth under churny feeds at cost ∝ the sidecar, never the index.
    *
    * Crash-safe BY THE MARK ALGEBRA, not by an atomic swap: phase 1
    * APPENDS the per-id last marks into the same directory (marks are a
    * last-writer-wins set — adding each id's winning mark changes no
    * exclusion decision), phase 2 deletes the pre-existing files. A crash
    * inside either phase leaves a superset of the winning marks, which
    * reads identically and the next compaction finishes shrinking.
    * Surviving ALIVE marks are kept (not just exclusions): they must keep
    * dominating older tombstones until the old files are really gone —
    * dropping them early would resurrect a stale tombstone if a phase-2
    * crash deleted the alive mark's file but not the tombstone's.
    * Single-writer like every sidecar append (erasure followers are one
    * per index by design). Returns (rows before, rows after).
    */
  def compactTombstones(
      s: SparkSession, indexPath: String, idCol: String): (Long, Long) = {
    val dir = new java.io.File(sidecar(indexPath))
    if (!dir.exists()) return (0L, 0L)
    val oldFiles = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    val all = s.read.parquet(sidecar(indexPath)).cache()
    val before = all.count()
    val net = all
      .groupBy(idCol)
      .agg(max(struct(col("ver"), col("alive"))).as("last"))
      .select(col(idCol), col("last.ver").as("ver"), col("last.alive").as("alive"))
    val after = net.count()
    // phase 1: write the winning marks OUTSIDE (never append into a dir the
    // plan is reading), then move the part files in — per-file atomic
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val tmp = sidecar(indexPath) + s".compact_$tag"
    net.coalesce(1).write.parquet(tmp)
    all.unpersist(blocking = true)
    new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => java.nio.file.Files.move(
          f.toPath, new java.io.File(dir, s"compact_${tag}_$i.parquet").toPath)
      }
    graft.Scratch.wipe(tmp)
    // phase 2: the superseded files go
    oldFiles.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    (before, after)
  }
}
