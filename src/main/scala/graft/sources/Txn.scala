package graft.sources

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Cross-table ATOMIC transactions over [[TableLog]] tables — the
  * multi-table commit neither Delta nor Iceberg gives a filesystem
  * catalog, built from the log's own primitives:
  *
  *  1. STAGE every table's data first ([[TableLog.writeConstrained]] —
  *     CHECK constraints enforced, nothing referenced yet; a crash here
  *     obliges nothing, the staged files are [[TableLog.gcOrphans]] food);
  *  2. write the INTENT record (one atomic file move: the txn's member
  *     tables, kinds, and staged file lists) — this instant is the
  *     durability point: once the intent exists the transaction WILL
  *     complete, by this process or any later [[recover]];
  *  3. publish per table via the idempotent txn-tagged commit of the
  *     staged files ([[TableLog.commitFiles]], tag `xt_<id>`) —
  *     a crash mid-way leaves a roll-FORWARD obligation that replays
  *     from the intent alone (no DataFrames needed), and a replayed
  *     publish no-ops on tables where the tag already landed;
  *  4. write the DONE marker recording the landed versions.
  *
  * Between 3 and 4 a reader of the raw heads could see the transaction on
  * some tables and not others. [[consistentSnapshot]] closes that window:
  * it computes, from the intent records and the manifests' txn tags alone
  * (metadata reads only), the latest per-table versions that SPLIT NO
  * transaction — every cross-table txn is either fully visible or fully
  * invisible at the returned snapshot. Readers then time-travel to those
  * pinned versions ([[readConsistent]]), which is snapshot isolation
  * across tables at 100 TB for the price of a few manifest reads.
  */
object Txn extends QueryPack {

  /** one table's slice of a transaction */
  final case class Write(df: DataFrame, table: String, overwrite: Boolean = false)

  private def norm(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  private val IdOk = "[A-Za-z0-9_-]+".r

  private def intentFile(root: String, id: String): Path =
    Paths.get(root).resolve(s"$id.intent")
  private def doneFile(root: String, id: String): Path =
    Paths.get(root).resolve(s"$id.done")

  private def tag(id: String): String = s"xt_$id"

  /** intent entries: (table, overwrite, staged relative files) */
  private def readIntent(root: String, id: String): Seq[(String, Boolean, Seq[String])] =
    LogText.lines(intentFile(root, id)).map { l =>
      // limit -1: an empty staged-file list (empty DataFrame with zero
      // partitions) must still parse as three fields
      val Array(t, ow, fs) = l.split("\\|", -1)
      (t, ow.toBoolean, fs.split(',').toSeq.filter(_.nonEmpty))
    }

  /** Atomically commit `writes` across their tables under idempotency key
    * `id`. Returns table → landed version. Re-invoking a completed id
    * returns the recorded versions; re-invoking a crashed one ignores the
    * passed DataFrames (the staged intent is the truth) and rolls the
    * remaining publishes forward. `failAfterTables` is the test-only crash
    * injector: land that many tables, then die before the done marker.
    */
  def commitAll(spark: SparkSession, txnRoot: String, id: String,
      writes: Seq[Write],
      failAfterTables: Int = Int.MaxValue): Map[String, Long] = {
    require(IdOk.pattern.matcher(id).matches(), s"txn id '$id' must be [A-Za-z0-9_-]+")
    val done = LogText.pairs(LogText.lines(doneFile(txnRoot, id)))
    if (done.nonEmpty) return done.map { case (t, v) => (t, v.toLong) }.toMap
    if (readIntent(txnRoot, id).isEmpty) {
      require(writes.nonEmpty, s"txn $id commits nothing")
      val tables = writes.map(w => norm(w.table))
      require(tables.distinct.size == tables.size,
        s"txn $id writes one table twice: ${tables.mkString(", ")}")
      // stage EVERYTHING before any publish: once publishing starts the
      // only direction is forward, so the data it needs must all exist
      val staged = writes.map(w =>
        (norm(w.table), w.overwrite, TableLog.writeConstrained(w.df, w.table)))
      LogText.replace(intentFile(txnRoot, id),
        staged.map { case (t, ow, fs) => s"$t|$ow|${fs.mkString(",")}" })
    }
    rollForward(txnRoot, id, failAfterTables)
  }

  private def rollForward(root: String, id: String, failAfter: Int): Map[String, Long] = {
    val versions = readIntent(root, id).zipWithIndex.map {
      case ((table, ow, files), i) =>
        if (i >= failAfter)
          throw new IllegalStateException(s"txn $id: injected crash after $i tables")
        val landed = TableLog.commitFiles(table, files, ow, Some(tag(id)))
        table -> landed.getOrElse(landedVersion(table, tag(id)).getOrElse(
          sys.error(s"txn $id claims committed on $table but no version carries it")))
    }.toMap
    LogText.replace(doneFile(root, id),
      versions.toSeq.sortBy(_._1).map { case (t, v) => s"$t|$v" })
    versions
  }

  private def landedVersion(table: String, t: String): Option[Long] =
    TableLog.versions(table).find(v => TableLog.txnsAt(table, v).contains(t))

  /** Roll every crashed transaction under `txnRoot` forward (intent
    * present, done marker absent). Returns the ids completed. Safe to run
    * any time, from any process, concurrently with writers — publishes
    * are idempotent under their tags.
    */
  def recover(spark: SparkSession, txnRoot: String): Seq[String] =
    intentIds(txnRoot).filter(id => LogText.lines(doneFile(txnRoot, id)).isEmpty)
      .map { id => rollForward(txnRoot, id, Int.MaxValue); id }

  /** ids of every intent record under `txnRoot`, sorted */
  private def intentIds(txnRoot: String): Seq[String] = {
    val dir = Paths.get(txnRoot)
    if (!Files.isDirectory(dir)) return Seq.empty
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".intent")).map(_.stripSuffix(".intent")).toSeq.sorted
    finally st.close()
  }

  /** The latest per-table versions at which NO cross-table transaction is
    * half-visible among `tables`. Fixpoint: while some txn has landed at
    * or below the caps on one member table but not on another, cap the
    * included tables below that txn's landing — monotone decreasing, so
    * it terminates; a fully-landed or fully-absent txn constrains
    * nothing. Versions a table had BEFORE a partial txn touched it (and
    * all non-txn commits outside the capped suffix) stay visible.
    */
  def consistentSnapshot(txnRoot: String, tables: Seq[String]): Map[String, Long] = {
    val req = tables.map(norm)
    val caps = scala.collection.mutable.Map(req.map(t =>
      t -> TableLog.versions(t).lastOption.getOrElse(
        sys.error(s"no committed versions under $t"))): _*)
    val members: Seq[(String, Seq[String])] =
      intentIds(txnRoot).map(id => id -> readIntent(txnRoot, id).map(_._1).filter(caps.contains))
        .filter(_._2.size > 1)
    // tag → landed version, ONE manifest sweep per table: the fixpoint
    // below then does pure map lookups, so the whole snapshot costs
    // O(versions + txns) metadata reads — linear in log length, never
    // the txns × versions quadratic a per-txn manifest scan would be
    val tagAt: Map[String, Map[String, Long]] = req.map(t =>
      t -> TableLog.versions(t)
        .flatMap(v => TableLog.txnsAt(t, v).map(_ -> v)).toMap).toMap
    var changed = true
    while (changed) {
      changed = false
      members.foreach { case (id, ts) =>
        val at = ts.map(t => t -> tagAt(t).get(tag(id)))
        val in = at.collect { case (t, Some(v)) if v <= caps(t) => (t, v) }
        val out = at.exists { case (t, v) => v.forall(_ > caps(t)) }
        if (in.nonEmpty && out) {
          in.foreach { case (t, v) =>
            require(v > 0, s"txn $id created $t's v0 and is split — no " +
              "pre-txn snapshot of that table exists; recover() first")
            if (caps(t) >= v) { caps(t) = v - 1; changed = true }
          }
        }
      }
    }
    caps.toMap
  }

  /** split-free snapshot reads: table → DataFrame pinned at
    * [[consistentSnapshot]]'s versions
    */
  def readConsistent(spark: SparkSession, txnRoot: String,
      tables: Seq[String]): Map[String, DataFrame] =
    consistentSnapshot(txnRoot, tables).map { case (t, v) =>
      t -> TableLog.read(spark, t, Some(v))
    }

  // ---------------------------------------------------------------------
  // registry query — torn-then-recovered accounting, hash-gated
  // ---------------------------------------------------------------------

  private val builtQ = graft.Scratch.fixture[Seq[(String, Long, Long, Long, Long)]]("graft_txn")

  /** Two tables written by cross-table txns; txn2 crash-lands on only the
    * first. Phase 'torn' reads the consistent snapshot BEFORE recovery
    * (must see txn1 only on BOTH tables — on neither side the half-landed
    * txn2), phase 'recovered' after [[recover]] (sees both txns on both).
    * The oracle recomputes each phase's slices from the raw tables, so a
    * torn read that leaks txn2's orders-side append — the exact anomaly
    * consistent snapshots exist to prevent — flips the 'torn' sums.
    */
  def txnSnapshotQ(s: SparkSession, dir: String): DataFrame = {
    val rows = builtQ(dir) { root =>
      val (ta, tb, tr) = (s"$root/t_orders", s"$root/t_items", s"$root/_txns")
      val orders = Tables.load(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val items = Tables.load(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_quantity").cast("long").as("qty"))
      commitAll(s, tr, "txn1", Seq(
        Write(orders.where(col("o_orderkey") % 3 === 0), ta),
        Write(items.where(col("l_orderkey") % 5 === 0), tb)))
      val crashed = intercept {
        commitAll(s, tr, "txn2", Seq(
          Write(orders.where(col("o_orderkey") % 3 === 1), ta),
          Write(items.where(col("l_orderkey") % 5 === 1), tb)),
          failAfterTables = 1)
      }
      require(crashed, "txn2 must crash-land half way for the torn phase")
      def phase(name: String): (String, Long, Long, Long, Long) = {
        val snap = readConsistent(s, tr, Seq(ta, tb))
        val a = snap(norm(ta)).agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L)))
          .collect().head
        val b = snap(norm(tb)).agg(count(lit(1)), coalesce(sum(col("qty")), lit(0L)))
          .collect().head
        (name, a.getLong(0), a.getLong(1), b.getLong(0), b.getLong(1))
      }
      val torn = phase("torn")
      val rec = recover(s, tr)
      require(rec == Seq("txn2"), s"recovery must roll txn2 forward, got $rec")
      Seq(torn, phase("recovered"))
    }
    import s.implicits._
    rows.toDF("phase", "a_rows", "a_cents", "b_rows", "b_qty")
  }

  private def intercept(body: => Any): Boolean =
    try { body; false } catch { case _: IllegalStateException => true }

  private val txnSnapshotSql =
    """SELECT 'torn' AS phase,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS a_rows,
      |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |     FROM orders WHERE o_orderkey % 3 = 0) AS a_cents,
      |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 5 = 0) AS b_rows,
      |  (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |     FROM lineitem WHERE l_orderkey % 5 = 0) AS b_qty
      |UNION ALL
      |SELECT 'recovered',
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 IN (0, 1)),
      |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |     FROM orders WHERE o_orderkey % 3 IN (0, 1)),
      |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 5 IN (0, 1)),
      |  (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |     FROM lineitem WHERE l_orderkey % 5 IN (0, 1))""".stripMargin

  override def all: Seq[Q] = Seq(
    Q("txn_atomic_snapshot", txnSnapshotQ, Some(txnSnapshotSql)))
}
