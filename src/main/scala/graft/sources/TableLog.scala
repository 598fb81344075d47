package graft.sources

import graft.{Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal table-format metadata log — versioned commits, snapshot-isolated
  * reads, time travel, vacuum: the Delta/Iceberg discipline that makes a
  * 100 TB table mutable-in-metadata while its data files stay immutable.
  *
  * Layout: `tableDir/data/<uuid>.parquet` (immutable data files, written
  * once, never rewritten) + `tableDir/_log/v<N>.txt` (manifest: the data
  * files LIVE at version N, one relative path per line). A commit writes
  * new data files, then publishes the next manifest by hard-linking a
  * fully-written temp file to `v<N>.txt` (put-if-absent `link(2)`, see
  * [[publish]]) — readers either see version N or N+1, never a torn state,
  * two writers can never both take N+1, and a crashed commit leaves only
  * unreferenced files for [[gcOrphans]].
  *
  * Scale notes (100 TB posture): every operation here is METADATA-scale on
  * the driver (lists of file names — the same asymptotics as a Delta log);
  * data moves only through executor-side parquet read/write. Append = new
  * files + superset manifest; logical overwrite = new files + disjoint
  * manifest, with old versions still readable (time travel) until vacuumed.
  * Commits can record per-file min/max column stats in a version sidecar
  * ([[commitAppend]]'s `statCols`); [[readPruned]] then skips files whose
  * range cannot match a predicate — composing with [[Layout]]'s Z-order
  * clustering (cluster on write → narrow per-file ranges → effective
  * skipping).
  */
object TableLog extends QueryPack {

  private def logDir(table: String): Path = Paths.get(table, "_log")
  private def dataDir(table: String): Path = Paths.get(table, "data")

  private def versionFile(table: String, v: Long): Path =
    logDir(table).resolve(s"v$v.txt")

  private def listDir(p: Path): Seq[Path] = {
    if (!Files.isDirectory(p)) return Seq.empty // fresh/absent table: nothing to list
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  /** Committed versions, ascending (empty for a fresh/absent table). */
  def versions(table: String): Seq[Long] = {
    val ld = logDir(table)
    if (!Files.isDirectory(ld)) return Seq.empty
    listDir(ld)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
        s.stripPrefix("v").stripSuffix(".txt").toLong }
      .sorted
  }

  /** one manifest's sections: its live data files, its `#dv:`
    * deletion-vector files and its `#txn:` tags — the one reader of `v<N>.txt`
    */
  private final case class Manifest(files: Seq[String], dvs: Seq[String], txns: Seq[String])

  private def manifest(table: String, v: Long): Manifest = {
    val ls = LogText.read(versionFile(table, v))
    def headed(h: String) = ls.collect { case l if l.startsWith(h) => l.stripPrefix(h) }
    Manifest(ls.filterNot(_.startsWith("#")), headed("#dv:"), headed("#txn:"))
  }

  private[sources] def liveFiles(table: String, v: Long): Seq[String] =
    manifest(table, v).files

  /** manifest publish instant of version `v` in MICROseconds — what the
    * catalog's `TIMESTAMP AS OF` resolves against (the link that
    * publishes the manifest IS the commit, so its mtime is the commit time)
    */
  private[sources] def versionCommitTimeMicros(table: String, v: Long): Long =
    Files.getLastModifiedTime(versionFile(table, v)).toMillis * 1000L

  /** absolute paths of the files live at `v` (for the streaming source's
    * schema inference and partition planning)
    */
  private[sources] def liveFilePaths(table: String, v: Long): Seq[String] =
    liveFiles(table, v).map(f => Paths.get(table).resolve(f).toString)

  /** deletion-vector parquet files live at version `v` (rows: (f, p) =
    * (relpath, row_index) of deleted positions) — recorded as `#dv:` header
    * lines so pre-DV readers of the manifest format ignore them.
    */
  private[graft] def dvFiles(table: String, v: Long): Seq[String] =
    manifest(table, v).dvs

  // -------------------------------------------------------------------------
  // CHECK constraints — validated DURING the commit write via df.observe
  // -------------------------------------------------------------------------

  private def constraintsFile(table: String): Path =
    logDir(table).resolve("constraints.txt")

  /** Declare a CHECK constraint (`name`, boolean SQL expression) enforced on
    * every subsequent [[commitAppend]]/[[commitOverwrite]] (and therefore
    * [[optimize]]). SQL-standard semantics: a row violates only when the
    * expression is FALSE — NULL passes. Enforcement costs NO extra pass:
    * the violation count rides the commit write itself as an observed
    * metric (`df.observe` = CollectMetrics inside the write job), and a
    * violated commit deletes its staged files and aborts BEFORE any
    * manifest publish — the table is untouched.
    */
  def addCheckConstraint(table: String, name: String, sqlExpr: String): Unit = {
    require(!name.contains("|") && !sqlExpr.contains("\n"),
      "constraint name must be |-free and the expression single-line")
    writeConstraints(table, checkConstraints(table).filterNot(_._1 == name) :+ (name -> sqlExpr))
  }

  def dropCheckConstraint(table: String, name: String): Unit = {
    val cur = checkConstraints(table)
    if (cur.exists(_._1 == name)) writeConstraints(table, cur.filterNot(_._1 == name))
  }

  /** declared CHECK constraints, in declaration order */
  def checkConstraints(table: String): Seq[(String, String)] =
    LogText.pairs(LogText.lines(constraintsFile(table)))

  private def writeConstraints(table: String, cs: Seq[(String, String)]): Unit =
    LogText.replace(constraintsFile(table), cs.map { case (n, e) => s"$n|$e" })

  /** violated-commit abort signal (table state untouched) */
  final class CheckViolation(val table: String, val constraint: String, val rows: Long)
    extends IllegalArgumentException(
      s"commit to $table violates CHECK constraint '$constraint' on $rows rows")

  // -------------------------------------------------------------------------
  // Table properties — engine-interpreted key/value sidecar
  // -------------------------------------------------------------------------

  /** the property that turns INSERTs into CLUSTERED writes: comma-separated
    * column names; each catalog append range-partitions + sorts on them and
    * records their per-file [min, max] stats, so file skipping bites from
    * the FIRST insert without an OPTIMIZE pass
    */
  val ClusterByProp = "graft.clusterBy"
  /** optional companion: explicit range-partition (≈ file) count per
    * clustered insert; absent → Spark's own sizing (shuffle partitions /
    * AQE coalesce)
    */
  val ClusterFilesProp = "graft.clusterBy.files"

  /** BUCKETED layout — the storage-partitioned-join properties: every
    * catalog INSERT/OVERWRITE hash-buckets rows into [[BucketNProp]]
    * bucket-PURE files on this column (`pmod(hash(col), n)` — Spark's own
    * murmur3, seed 42), per-file bucket ids persist in an append-only
    * sidecar, and the catalog scan then reports
    * `KeyGroupedPartitioning(bucket(n, col))` — two co-bucketed tables
    * join on the column with ZERO shuffle
    * (`spark.sql.sources.v2.bucketing.enabled=true`). Mutually exclusive
    * with [[ClusterByProp]] (they prescribe conflicting layouts).
    */
  val BucketByProp = "graft.bucketBy"
  /** companion bucket count — both sides of a shuffle-free join must agree */
  val BucketNProp = "graft.bucketBy.n"

  private def bucketsFile(table: String): Path =
    logDir(table).resolve("buckets.txt")

  /** (column, numBuckets) when the table declares a bucketed layout */
  private[sources] def bucketSpec(table: String): Option[(String, Int)] = {
    val props = tableProps(table)
    for {
      c <- props.get(BucketByProp).map(_.trim).filter(_.nonEmpty)
      n <- props.get(BucketNProp).flatMap(s =>
        scala.util.Try(s.trim.toInt).toOption).filter(_ > 0)
    } yield (c, n)
  }

  /** relpath → bucket id: append-only facts about immutable files (same
    * O_APPEND discipline as row counts — each commit appends only its own
    * freshly-written files). A file with NO record (row-level rewrite,
    * compaction) simply drops the table out of the reported partitioning
    * until an INSERT OVERWRITE re-buckets — degrading is always sound.
    */
  private[graft] def fileBuckets(table: String): Map[String, Int] =
    LogText.pairs(LogText.appended(bucketsFile(table)))
      .flatMap { case (f, b) => b.trim.toIntOption.map(f -> _) }.toMap

  /** driver-side twin of the write path's `pmod(hash(col), n)` (and of
    * [[GraftBucketFunction]]): the bucket id a value lands in — what lets a
    * point predicate on the bucket column keep 1/n of the files from
    * METADATA alone. A hash layout scatters key RANGES across every file,
    * so min/max stats cannot prune it; bucket arithmetic can, exactly.
    */
  private[sources] def bucketIdOf(value: Any, n: Int): Option[Int] = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    val h = value match {
      case l: Long => Some(Murmur3_x86_32.hashLong(l, 42))
      case i: Int => Some(Murmur3_x86_32.hashInt(i, 42))
      case s: String =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        Some(Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42))
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42))
      case _ => None
    }
    h.map { hh => val m = hh % n; if (m < 0) m + n else m }
  }

  private def recordBuckets(table: String, entries: Seq[(String, Int)]): Unit =
    LogText.append(bucketsFile(table), entries.map { case (f, b) => s"$f|$b" })

  private def propsFile(table: String): Path =
    logDir(table).resolve("props.txt")

  /** engine-interpreted table properties (`graft.*` keys; e.g.
    * [[ClusterByProp]]). Stored in an unversioned sidecar like the bloom/
    * NDV indexes: properties steer FUTURE writes and maintenance, never the
    * meaning of committed data, so time travel doesn't apply to them.
    */
  def tableProps(table: String): Map[String, String] =
    LogText.pairs(LogText.lines(propsFile(table))).toMap

  def setTableProp(table: String, key: String, value: String): Unit = {
    require(!key.contains('|') && !key.contains('\n') &&
      !value.contains('|') && !value.contains('\n'),
      "property keys/values must be |-free and single-line")
    writeProps(table, tableProps(table) + (key -> value))
  }

  def unsetTableProp(table: String, key: String): Unit = {
    val cur = tableProps(table)
    if (cur.contains(key)) writeProps(table, cur - key)
  }

  private def writeProps(table: String, props: Map[String, String]): Unit =
    LogText.replace(propsFile(table), props.toSeq.sortBy(_._1).map { case (k, v) => s"$k|$v" })

  /** Cluster `df` per the table's [[ClusterByProp]] and return it with the
    * stat columns to index — identity when the property is unset. Range
    * partitioning gives each output file a narrow band of the leading
    * cluster column (the 100 TB layout rule: cluster ON WRITE, skip on
    * read); stats record for every cluster column whose type the sidecar
    * indexes (integral or string).
    */
  private[sources] def clusterForWrite(df: DataFrame, table: String): (DataFrame, Seq[String]) = {
    val cluster = tableProps(table).get(ClusterByProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (cluster.isEmpty) (df, Nil)
    else {
      cluster.foreach(c => require(df.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"$ClusterByProp column $c not in write schema ${df.schema.fieldNames.mkString(",")}"))
      val statCols = cluster.filter { c =>
        df.schema.find(_.name.equalsIgnoreCase(c)).exists(f => Stats.indexable(f.dataType))
      }
      val ranged = tableProps(table).get(ClusterFilesProp).map(_.trim.toInt) match {
        case Some(n) => df.repartitionByRange(n, cluster.map(col): _*)
        case None => df.repartitionByRange(cluster.map(col): _*)
      }
      (ranged.sortWithinPartitions(cluster.map(col): _*), statCols)
    }
  }

  /** [[writeDataFiles]] + CHECK enforcement: the constraint violation
    * counts are observed DURING the write (single pass); if any constraint
    * is FALSE on any row, the freshly-staged files are deleted and the
    * commit aborts with [[CheckViolation]] before anything is published.
    * The returned files stay unreferenced (and [[gcOrphans]]-collectable)
    * until [[commitFiles]] publishes them — [[Txn]] stages here first.
    */
  private[sources] def writeConstrained(df: DataFrame, table: String,
      bucketBy: Option[(String, Int)] = None): Seq[String] = {
    val cs = checkConstraints(table)
    if (cs.isEmpty) writeDataFiles(df, table, bucketBy)
    else {
      val obs = new org.apache.spark.sql.Observation(
        s"graft_check_${java.util.UUID.randomUUID()}")
      val metrics = cs.map { case (n, e) =>
        sum(when(coalesce(expr(e).cast("boolean"), lit(true)) === lit(false), 1L)
          .otherwise(0L)).as(n)
      }
      val moved = writeDataFiles(
        df.observe(obs, metrics.head, metrics.tail: _*), table, bucketBy)
      val got = obs.get
      cs.find { case (n, _) => got(n).asInstanceOf[Long] > 0L } match {
        case Some((n, _)) =>
          moved.foreach(f => Files.deleteIfExists(Paths.get(table).resolve(f)))
          throw new CheckViolation(table, n, got(n).asInstanceOf[Long])
        case None => moved
      }
    }
  }

  /** Write `df`'s rows as new immutable data files; return their relative
    * paths (NOT yet referenced by any manifest). Every file written through
    * here also gets its row count recorded in the per-table
    * [[rowCountsFile]] — the metadata that lets [[metadataCount]] answer
    * `SELECT count(*)` without scanning (files are immutable, so a count
    * recorded once is valid forever).
    */
  /** synthetic shuffle/partition column for bucketed writes — never lands
    * in file data (partitionBy drops it) or the table schema
    */
  private val BucketCol = "__graft_bucket"

  private def writeDataFiles(df: DataFrame, table: String,
      bucketBy: Option[(String, Int)] = None): Seq[String] = {
    val staging = Paths.get(table, s".staging_${java.util.UUID.randomUUID()}")
    bucketBy match {
      case None => df.write.parquet(staging.toString)
      case Some((c, n)) =>
        // bucket-PURE files: the hash repartition co-locates whole buckets
        // per task (collisions may pack several buckets into one task),
        // and partitionBy then splits each task's rows into one FILE per
        // bucket — purity is guaranteed by the directory write, not the
        // shuffle. Rows sort by key within each file for tight row-group
        // stats. pmod(hash(c), n) is the SAME function the catalog's
        // bucket FunctionCatalog entry computes (murmur3, seed 42).
        df.withColumn(BucketCol, pmod(hash(col(c)), lit(n)))
          .repartition(n, col(BucketCol))
          .sortWithinPartitions(col(BucketCol), col(c))
          .write.partitionBy(BucketCol).parquet(staging.toString)
    }
    Files.createDirectories(dataDir(table))
    def moveParquet(p: Path): String = {
      val name = s"${java.util.UUID.randomUUID()}.parquet"
      Files.move(p, dataDir(table).resolve(name))
      s"data/$name"
    }
    val movedBuckets: Seq[(String, Option[Int])] = bucketBy match {
      case None =>
        listDir(staging).filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => (moveParquet(p), None))
      case Some(_) =>
        listDir(staging).filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"$BucketCol=")).flatMap { d =>
          val b = d.getFileName.toString.substring(BucketCol.length + 1).toInt
          listDir(d).filter(_.getFileName.toString.endsWith(".parquet"))
            .map(p => (moveParquet(p), Some(b)))
        }
    }
    val moved = movedBuckets.map(_._1)
    def rmTree(p: Path): Unit = { // _SUCCESS + emptied bucket dirs
      if (Files.isDirectory(p)) listDir(p).foreach(rmTree)
      Files.delete(p)
    }
    rmTree(staging)
    recordBuckets(table, movedBuckets.collect { case (f, Some(b)) => (f, b) })
    recordRowCounts(table, moved)
    moved
  }

  // -------------------------------------------------------------------------
  // Per-file row counts — metadata-only COUNT(*)
  // -------------------------------------------------------------------------

  private def rowCountsFile(table: String): Path =
    logDir(table).resolve("rowcounts.txt")

  /** `relpath|nrows` per immutable file, APPEND-ONLY (O_APPEND keeps
    * concurrent committers from clobbering each other's lines — each commit
    * appends only its own freshly-written files, never rewrites).
    */
  private def rowCounts(table: String): Map[String, Long] =
    LogText.pairs(LogText.appended(rowCountsFile(table)))
      .flatMap { case (f, n) => n.toLongOption.map(f -> _) }.toMap

  /** footer of one parquet file — a driver-side KB-sized metadata read
    * (the file tail), never a data scan or a Spark job
    */
  private def parquetFooter(abs: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs),
        new org.apache.hadoop.conf.Configuration()))
    try r.getFooter finally r.close()
  }

  // row counts come from the freshly written files' parquet FOOTERS (the
  // block metadata already stores them) — metadata-sized driver reads, so
  // the write path never pays a second scan of the data it just wrote
  private def recordRowCounts(table: String, moved: Seq[String]): Unit =
    LogText.append(rowCountsFile(table), moved.map { f =>
      val n = parquetFooter(Paths.get(table).resolve(f).toString)
        .getBlocks.asScala.map(_.getRowCount).sum
      s"$f|$n"
    })

  /** `SELECT count(*)` at a version answered ENTIRELY from metadata: the
    * sum of the live files' recorded row counts minus the version's
    * deletion-vector rows (DV positions are distinct by [[deleteWhere]]
    * construction, and every DV parquet also passes through
    * [[writeDataFiles]], so its row count is on file too). `None` when any
    * live or DV file lacks a recorded count (a pre-feature table) — the
    * caller must scan; never a guess.
    */
  def metadataCount(table: String, asOf: Option[Long] = None): Option[Long] = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val v = asOf.getOrElse(vs.last)
    val counts = rowCounts(table)
    val m = manifest(table, v)
    if ((m.files ++ m.dvs).forall(counts.contains))
      Some(m.files.map(counts).sum - m.dvs.map(counts).sum)
    else None
  }

  /** Publish manifest `v` atomically (temp + link). An optional txn id
    * rides as a `#txn:` header line INSIDE the manifest, so the link that
    * publishes the version is also what records the transaction — there is
    * no window where data is committed but its idempotence marker is not.
    * `stats` (sidecar lines of the published files) are written only AFTER
    * the link wins version `v`: a pre-publish sidecar could clobber a
    * concurrent winner's, and a crash in between just leaves a statless
    * version, which [[readPruned]] keeps whole and later commits heal
    * ([[latestStats]]).
    *
    * OPTIMISTIC CONCURRENCY: on Linux, rename() silently REPLACES an
    * existing target — two writers that both computed v = n+1 would have
    * the second clobber the first's manifest (its data files survive but
    * become invisible: a lost commit). The manifest is therefore published
    * with `link(2)` ([[LogText.create]]): the fully-written temp file is
    * hard-linked to the version path — PUT-IF-ABSENT (link fails atomically
    * if the target exists), and because the link shares the temp's inode a
    * reader can never observe a partial or empty manifest. A loser throws
    * [[CommitConflict]] and the commit-level callers re-read the log and
    * retry on the NEXT version, so both commits land (Delta's commit
    * protocol on a filesystem log store).
    */
  final class CommitConflict(val table: String, val v: Long)
    extends RuntimeException(s"version $v of $table was committed concurrently")

  private[graft] def publish(
      table: String, v: Long, files: Seq[String], txn: Option[String] = None,
      dvs: Seq[String] = Nil, stats: Seq[Stats.Stat[_]] = Nil): Long = {
    val lines = txn.map(t => s"#txn:$t").toSeq ++ dvs.map(d => s"#dv:$d") ++ files
    if (!LogText.create(versionFile(table, v), lines)) throw new CommitConflict(table, v)
    writeStats(table, v, stats)
    v
  }

  /** what version `v` hands to the next commit: its live files (less
    * `drop`), its DVs, and the stats lines of exactly those files, taken
    * from the newest ancestor that has a sidecar ([[latestStats]]) so
    * a statless version never erases the index and dead-file stats never
    * carry forward
    */
  private final case class Carried(files: Seq[String], dvs: Seq[String], stats: Seq[Stats.Stat[_]])
  private val NothingCarried = Carried(Nil, Nil, Nil)

  private def carried(table: String, v: Long, drop: Set[String] = Set.empty): Carried = {
    val m = manifest(table, v)
    val files = m.files.filterNot(drop)
    val live = files.toSet
    Carried(files, m.dvs, latestStats(table, v).filter(s => live(s.file)))
  }

  /** Publish data files written EXECUTOR-SIDE (a DSv2 `DataWriter` fleet —
    * the SQL UPDATE/MERGE copy-on-write path) as a GROUP replacement,
    * PINNED to the version the rewrite was planned against: the new
    * manifest keeps every live file outside `replaced` (with its DVs and
    * stats carried forward — a DV row naming a swapped-out file just stops
    * matching) and swaps `replaced` for `moved`. The replacement's content
    * is a function of snapshot `basedOn`, so if any commit landed in
    * between, publishing would silently drop it (the lost-update rule
    * [[compactRetry]] enforces for compactions — but a SQL rewrite cannot
    * be transparently re-run from here, so the loser ABORTS loudly instead
    * of retrying, Delta's conflict answer for UPDATE/MERGE). CHECK
    * constraints enforce with ONE aggregate scan of the new files before
    * anything publishes; row counts come from the already-written files'
    * footers.
    */
  private[sources] def publishReplace(
      spark: SparkSession, table: String, basedOn: Long, moved: Seq[String],
      replaced: Set[String]): Long = {
    def dropStaged(): Unit =
      moved.foreach(f => Files.deleteIfExists(Paths.get(table).resolve(f)))
    val cs = checkConstraints(table)
    if (cs.nonEmpty && moved.nonEmpty) {
      val df = spark.read.parquet(
        moved.map(f => Paths.get(table).resolve(f).toString): _*)
      val aggs = cs.map { case (n, e) =>
        sum(when(coalesce(expr(e).cast("boolean"), lit(true)) === lit(false), 1L)
          .otherwise(0L)).as(n)
      }
      val got = df.agg(aggs.head, aggs.tail: _*).collect().head
      cs.zipWithIndex.find { case (_, i) => got.getLong(i) > 0L } match {
        case Some(((n, _), i)) =>
          dropStaged()
          throw new CheckViolation(table, n, got.getLong(i))
        case None => ()
      }
    }
    recordRowCounts(table, moved)
    val keep = carried(table, basedOn, drop = replaced)
    try publish(table, basedOn + 1, keep.files ++ moved,
      dvs = if (keep.files.isEmpty) Nil else keep.dvs, stats = keep.stats)
    catch {
      case _: CommitConflict =>
        dropStaged()
        throw new java.util.ConcurrentModificationException(
          s"row-level rewrite of $table was planned against version $basedOn but " +
            s"version ${basedOn + 1} was committed concurrently — re-run the statement")
    }
  }

  /** Run `commit(nextVersion)` under optimistic concurrency: on a
    * [[CommitConflict]] the log is re-read and the commit lambda re-runs
    * against the new head. The lambda must recompute everything it derives
    * from the previous version (live files, stats, DVs) — data files it
    * already wrote stay valid, only the manifest content is version-
    * dependent.
    */
  private def withRetry(table: String)(commit: Long => Long): Long = {
    var attempts = 0
    while (true) {
      val v = versions(table).lastOption.getOrElse(-1L) + 1
      try return commit(v)
      catch { case _: CommitConflict =>
        attempts += 1
        require(attempts < 100, s"commit on $table conflicted $attempts times")
      }
    }
    -1L // unreachable
  }

  /** txn ids recorded by committed versions (empty for untagged commits). */
  def committedTxns(table: String): Set[String] =
    versions(table).flatMap(txnsAt(table, _)).toSet

  /** Append commit: new version = previous live files (with their DVs and
    * stats) + the new ones. `statCols` (long- or string-valued columns)
    * adds per-file [min, max] stats to the version's sidecar — the
    * Delta-style file-statistics index that [[readPruned]] skips by.
    * Gathering them is ONE footer-light aggregate over the new files
    * ([[gatherStats]]: rows scale with the data ONCE at write; the collected
    * result scales with file count — the same driver-metadata asymptotics
    * as the manifest itself).
    */
  def commitAppend(df: DataFrame, table: String, statCols: Seq[String] = Nil,
      bucketBy: Option[(String, Int)] = None): Long =
    writeAndCommit(df, table, overwrite = false, None, statCols, bucketBy).get

  /** Logical overwrite: new version references ONLY the new files; prior
    * versions stay readable (their files are untouched) until vacuumed.
    * `statCols` writes a fresh per-file stats sidecar for the new version
    * (the overwrite drops prior files, so prior stats never carry forward).
    */
  def commitOverwrite(df: DataFrame, table: String, statCols: Seq[String] = Nil,
      bucketBy: Option[(String, Int)] = None): Long =
    writeAndCommit(df, table, overwrite = true, None, statCols, bucketBy).get

  /** Exactly-once logical overwrite: a no-op when `txnId` already committed.
    * This is the sink half of end-to-end exactly-once streaming — a replayed
    * `foreachBatch` (same batch id after a crash) re-runs the same merge and
    * the txn-tagged manifest dedupes the outcome; a crash BEFORE publish
    * leaves only unreferenced data files for [[vacuum]].
    */
  def commitOnceOverwrite(
      df: DataFrame, table: String, txnId: String): Option[Long] =
    writeAndCommit(df, table, overwrite = true, Some(txnId), Nil)

  /** Exactly-once APPEND: a no-op when `txnId` already committed — the
    * append twin of [[commitOnceOverwrite]] and what the streaming table-log
    * SINK ([[GraftLogSink]]) lands each micro-batch through: a replayed
    * batch id re-runs the write but the txn-tagged manifest dedupes the
    * publish, so the table grows exactly once per batch. Prior files keep
    * their DVs and stats carry forward, exactly like [[commitAppend]].
    */
  def commitOnceAppend(
      df: DataFrame, table: String, txnId: String,
      statCols: Seq[String] = Nil): Option[Long] =
    writeAndCommit(df, table, overwrite = false, Some(txnId), statCols)

  /** Write `df` (CHECK constraints enforced, [[writeConstrained]]), gather
    * its `statCols` stats and commit the files through [[commitFiles]]. A
    * `txn` that already committed skips the data write entirely.
    */
  private def writeAndCommit(df: DataFrame, table: String, overwrite: Boolean,
      txn: Option[String], statCols: Seq[String],
      bucketBy: Option[(String, Int)] = None): Option[Long] =
    if (txn.exists(committedTxns(table).contains)) None
    else {
      val kinds = statKinds(df.schema, statCols)
      val moved = writeConstrained(df, table, bucketBy)
      commitFiles(table, moved, overwrite, txn,
        gatherStats(df.sparkSession, table, moved, kinds))
    }

  /** The one commit body: publish ALREADY-WRITTEN `moved` files (plus their
    * sidecar lines `stats`) as the next version under [[withRetry]] — an
    * append on top of the head's [[carried]] files, DVs and stats, an
    * overwrite alone. The head is re-read INSIDE the retry, so a conflict
    * loser appends onto the winner's head. A `txn` rides in the manifest
    * and makes the commit exactly-once: the committed txns are re-checked
    * inside the retry, so a loser whose winner was a replay of the same txn
    * becomes a no-op (None; its files stay unreferenced for [[gcOrphans]],
    * like any crashed commit's). [[Txn]] publishes its staged files here.
    */
  private[sources] def commitFiles(
      table: String, moved: Seq[String], overwrite: Boolean,
      txn: Option[String] = None, stats: Seq[Stats.Stat[_]] = Nil): Option[Long] = {
    val r = withRetry(table) { v =>
      if (txn.exists(committedTxns(table).contains)) AlreadyCommitted
      else {
        val head =
          if (overwrite) NothingCarried
          else versions(table).lastOption.fold(NothingCarried)(carried(table, _))
        publish(table, v, head.files ++ moved, txn, head.dvs, head.stats ++ stats)
      }
    }
    if (r == AlreadyCommitted) None else Some(r)
  }

  /** sentinel for [[commitFiles]]'s retry lambda: the txn landed via a
    * concurrent replica, so this attempt must become a no-op
    */
  private val AlreadyCommitted = -2L

  /** txn tags recorded by ONE version's manifest ([[Txn]]'s landed-version
    * lookup and the split detector behind consistent snapshots)
    */
  private[sources] def txnsAt(table: String, v: Long): Seq[String] =
    manifest(table, v).txns

  /** the per-file recorded row counts (the `$files` metadata table's
    * `rows` column; files written before row-count recording report None)
    */
  private[sources] def fileRowCounts(table: String): Map[String, Long] =
    rowCounts(table)

  /** live files that can CONTRIBUTE an extreme: a file RECORDED as zero-row
    * (CREATE TABLE's schema-bearing empty v0 file, an evolution commit's
    * widening file) holds no values, so full-coverage checks exempt it —
    * a file with no row-count record stays conservative (counted as
    * coverage-required).
    */
  private[graft] def liveNonEmpty(table: String, v: Long): Seq[String] = {
    val counts = rowCounts(table)
    liveFiles(table, v).filterNot(f => counts.get(f).contains(0L))
  }

  /** Global [min, max] of `col` at version `v` from the stats sidecar
    * alone, in the probe's kind — defined ONLY when every live file carries
    * a stat line of that kind for the column (an uncovered file might hold
    * the true extreme; all-null files are indistinguishable from
    * never-indexed ones, so they also block) AND the version carries no
    * deletion vectors (a DV might have deleted the extreme row). Per-file
    * stats are over non-null values and each kind orders as Spark's
    * min/max does, so the answer equals `SELECT min(c), max(c)` exactly,
    * without opening a data file.
    */
  private[sources] def statBounds[T](table: String, v: Long, col: String)(
      implicit kind: Stats.Kind[T]): Option[(T, T)] = {
    if (dvFiles(table, v).nonEmpty) return None
    val live = liveNonEmpty(table, v)
    if (live.isEmpty) return None
    val perFile = Stats.ranges(latestStats(table, v), col, kind)
    if (!live.forall(perFile.contains)) None
    else {
      val bs = live.map(perFile)
      Some((bs.map(_._1).min(kind), bs.map(_._2).max(kind)))
    }
  }

  /** The per-file [min, max] stats sidecar — the table's skip index — and
    * the one owner of its line format: how a file's column range is
    * written ([[render]]), read ([[parse]]) and compared ([[Kind]]). One
    * line per (file, stat column): `relpath|col|min|max` for LONG-valued
    * columns, and `relpath|col|S|hexmin|hexmax` for STRING-valued ones
    * (bounds hex-encode the UTF-8 bytes — sidecar-safe against
    * '|'/newlines, and ORDER-PRESERVING: unsigned byte-wise comparison of
    * UTF-8 equals Spark's `UTF8String` ordering AND parquet's unsigned
    * lexicographic binary order, so the sidecar, the engine, and the
    * footers all compare in one collation). Every reader takes a typed
    * probe, so a probe of one kind never reads a line of the other — a
    * number rendered as text would compare in the wrong collation.
    */
  object Stats {
    /** a bound's kind: how its values render in a sidecar line, and their order */
    sealed abstract class Kind[T] extends Ordering[T] {
      private[Stats] def show(t: T): String
      private[Stats] def read(s: String): T
      /** a min/max value Spark returned for a column of this kind */
      private[Stats] def of(x: Any): T
      /** `file`'s range of `col` from the min/max values Spark returned */
      private[sources] def stat(file: String, col: String, lo: Any, hi: Any): Stat[T] =
        Stat(file, col, this, of(lo), of(hi))
    }
    /** LONG and INT (widened) columns */
    case object Int64 extends Kind[Long] {
      def compare(a: Long, b: Long): Int = java.lang.Long.compare(a, b)
      private[Stats] def show(t: Long): String = t.toString
      private[Stats] def read(s: String): Long = s.toLong
      private[Stats] def of(x: Any): Long = x.asInstanceOf[Number].longValue
    }
    /** STRING columns, ordered as unsigned UTF-8 bytes */
    case object Utf8 extends Kind[UTF8String] {
      def apply(s: String): UTF8String = UTF8String.fromString(s)
      def compare(a: UTF8String, b: UTF8String): Int = a.binaryCompare(b)
      private[Stats] def show(t: UTF8String): String =
        t.getBytes.map(b => f"${b & 0xff}%02x").mkString
      private[Stats] def read(s: String): UTF8String =
        UTF8String.fromBytes(s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
      private[Stats] def of(x: Any): UTF8String = Utf8(x.asInstanceOf[String])
    }
    object Kind {
      implicit val int64: Kind[Long] = Int64
      implicit val utf8: Kind[UTF8String] = Utf8
    }

    /** the kind a column of Spark type `t` is indexed as; None = not indexable */
    def kindOf(t: DataType): Option[Kind[_]] = t match {
      case LongType | IntegerType => Some(Int64)
      case StringType => Some(Utf8)
      case _ => None
    }
    def indexable(t: DataType): Boolean = kindOf(t).isDefined

    /** `file`'s recorded [lo, hi] of column `col` */
    final case class Stat[T](file: String, col: String, kind: Kind[T], lo: T, hi: T)

    def render[T](s: Stat[T]): String = {
      val tag = if (s.kind == Utf8) "S|" else ""
      s"${s.file}|${s.col}|$tag${s.kind.show(s.lo)}|${s.kind.show(s.hi)}"
    }

    /** the stat one sidecar line records; None for a malformed line. The
      * split keeps trailing empty fields: a string range whose bounds are
      * both empty renders as `rel|col|S||`.
      */
    def parse(line: String): Option[Stat[_]] =
      scala.util.Try(line.split("\\|", -1) match {
        case Array(f, c, lo, hi) => Some(Stat(f, c, Int64, Int64.read(lo), Int64.read(hi)))
        case Array(f, c, "S", lo, hi) => Some(Stat(f, c, Utf8, Utf8.read(lo), Utf8.read(hi)))
        case _ => None
      }).toOption.flatten

    /** per-file [lo, hi] of `col` among `stats`, from lines of `kind` only */
    def ranges[T](stats: Seq[Stat[_]], col: String, kind: Kind[T]): Map[String, (T, T)] =
      stats.filter(s => s.kind == kind && s.col == col).map { s =>
        val t = s.asInstanceOf[Stat[T]] // sound: its kind is `kind`
        t.file -> ((t.lo, t.hi))
      }.toMap
  }

  /** Version `v`'s stats sidecar. Written by [[publish]] AFTER the
    * manifest link wins (a pre-publish write could clobber a concurrent
    * winner's sidecar), so a crash in that window yields a STATLESS
    * version — sound (readPruned keeps all files) and self-healing: later
    * commits recover stats from the newest ancestor that has a sidecar
    * ([[latestStats]]).
    */
  private def statsFile(table: String, v: Long): Path =
    logDir(table).resolve(s"s$v.txt")

  private def writeStats(table: String, v: Long, stats: Seq[Stats.Stat[_]]): Unit =
    if (stats.nonEmpty) LogText.replace(statsFile(table, v), stats.map(Stats.render(_)))

  private def statsLines(table: String, v: Long): Seq[String] =
    LogText.lines(statsFile(table, v))

  /** the stats recorded in version `v`'s own sidecar */
  private def statsAt(table: String, v: Long): Seq[Stats.Stat[_]] =
    statsLines(table, v).flatMap(Stats.parse)

  /** stats of the newest version ≤ `upTo` that HAS a sidecar. Data files are
    * immutable and uniquely named, so a per-file stat line stays valid for
    * as long as that file exists — an older sidecar is safe to inherit
    * (callers filter it to the files actually live at their version).
    * Without this fallback, one crash between publish and the sidecar write
    * would carry sidecar emptiness forward through every later append.
    */
  private def latestStats(table: String, upTo: Long): Seq[Stats.Stat[_]] =
    versions(table).filter(_ <= upTo).sorted.reverseIterator
      .map(statsLines(table, _)).find(_.nonEmpty).getOrElse(Seq.empty)
      .flatMap(Stats.parse)

  /** the kind of each of `statCols` in `schema` — checked BEFORE any data
    * file is written, so a stat column that is absent or not
    * [[Stats.indexable]] fails the commit without leaving files behind
    */
  private def statKinds(schema: StructType, statCols: Seq[String]): Seq[(String, Stats.Kind[_])] =
    statCols.map { c =>
      val t = schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
      c -> t.flatMap(Stats.kindOf).getOrElse(throw new IllegalArgumentException(
        s"stat column $c must be integral- or string-typed; got ${t.getOrElse("no such column")}"))
    }

  /** per-file stats of `statCols` for freshly-written files — the shared
    * gather behind [[commitAppend]] and [[commitOverwrite]]: ONE
    * footer-light aggregate over the new files grouped by
    * `input_file_name()`. A file whose stat column is entirely null is
    * SKIPPED (unboxing the null would fabricate a spurious `0|0` range);
    * statless files are always kept by [[readPruned]], so skipping is the
    * sound direction.
    */
  private def gatherStats(
      spark: SparkSession,
      table: String,
      moved: Seq[String],
      statCols: Seq[(String, Stats.Kind[_])]): Seq[Stats.Stat[_]] =
    if (statCols.isEmpty || moved.isEmpty) Seq.empty
    else {
      val abs = moved.map(f => Paths.get(table).resolve(f).toString)
      val aggs = statCols.flatMap { case (c, _) =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")) }
      spark.read.parquet(abs: _*)
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .flatMap { row =>
          val uri = row.getString(0)
          val rel = "data/" + uri.substring(uri.lastIndexOf('/') + 1)
          statCols.flatMap { case (c, kind) =>
            val (mi, ma) = (row.fieldIndex(s"min_$c"), row.fieldIndex(s"max_$c"))
            if (row.isNullAt(mi) || row.isNullAt(ma)) None
            else Some(kind.stat(rel, c, row.get(mi), row.get(ma)))
          }
        }.toSeq
    }

  /** live files at a version whose `[min, max]` of `statCol` can intersect
    * `[lo, hi]` (inclusive; `None` = unbounded, the shape one-sided `<`/`>`
    * predicates push), compared in the probe's kind — files WITHOUT a
    * recorded range of that kind are always kept (pruning is sound, never
    * speculative). Returns (kept, total live).
    */
  private[graft] def prunedFiles[T](
      table: String,
      statCol: String,
      lo: Option[T],
      hi: Option[T],
      asOf: Option[Long] = None)(implicit kind: Stats.Kind[T]): (Seq[String], Int) = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val v = asOf.getOrElse(vs.last)
    val files = liveFiles(table, v)
    val ranges = Stats.ranges(statsAt(table, v), statCol, kind)
    val kept = files.filter(f => ranges.get(f).forall { case (mn, mx) =>
      hi.forall(kind.lteq(mn, _)) && lo.forall(kind.gteq(mx, _))
    })
    (kept, files.size)
  }

  /** does version `v`'s stats sidecar carry `kind` ranges for `statCol`?
    * (what the SQL catalog consults before counting a filter as skip-usable)
    */
  private[sources] def hasStatsFor(table: String, v: Long, statCol: String,
      kind: Stats.Kind[_]): Boolean =
    statsAt(table, v).exists(s => s.col == statCol && s.kind == kind)

  /** The exclusive upper bound of all strings starting with `p`, as a VALID
    * string: drop the last code point and append its successor (skipping
    * the surrogate gap). Every `s = p + rest` shares p's prefix up to that
    * last code point, which is strictly smaller than the successor, so
    * `s < upper` in code-point (== UTF-8 byte) order. None when no valid
    * successor exists (empty p, or last code point is U+10FFFF) — callers
    * then leave the high side unbounded, which is always sound.
    */
  private[sources] def prefixUpper(p: String): Option[String] = {
    if (p.isEmpty) return None
    val last = p.codePointBefore(p.length)
    val next =
      if (last == 0x10FFFF) return None
      else if (last == 0xD7FF) 0xE000 // skip the surrogate range
      else last + 1
    val head = p.substring(0, p.length - Character.charCount(last))
    Some(head + new String(Character.toChars(next)))
  }

  /** does `column` have a Bloom sidecar? */
  private[sources] def hasBloomFor(table: String, column: String): Boolean =
    bloomLines(table, column).nonEmpty

  /** Files that may contain ANY of `values` in `column`, from ONE read of
    * the Bloom sidecar (the batch form of [[pointLookupFiles]] — a runtime
    * join filter can deliver thousands of build-side keys, and re-reading
    * the sidecar per key would turn a metadata check into O(keys) I/O).
    */
  private[sources] def bloomFilesForAny(
      table: String, column: String, values: Seq[String],
      asOf: Option[Long] = None): Seq[String] = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val files = liveFiles(table, asOf.getOrElse(vs.last))
    val blooms = bloomsOf(table, column)
    val pss = values.map(bloomPositions(column, _))
    files.filter { f =>
      blooms.get(f).forall { hex =>
        pss.exists(_.forall { p =>
          val word = java.lang.Long.parseUnsignedLong(
            hex.substring((p / 64) * 16, (p / 64) * 16 + 16), 16)
          (word & (1L << (p % 64))) != 0
        })
      }
    }
  }

  /** columns a RUNTIME join-key filter can skip files by at version `v`
    * (stat-indexed ∪ bloom-indexed) — what
    * [[GraftLogScan.filterAttributes]] advertises to dynamic pruning
    */
  private[sources] def runtimeFilterableCols(table: String, v: Long): Seq[String] = {
    val statCols = statsAt(table, v).map(_.col).distinct
    val bloomCols = listDir(logDir(table)).map(_.getFileName.toString)
      .collect { case s if s.startsWith("bloom_") && s.endsWith(".txt") =>
        s.stripPrefix("bloom_").stripSuffix(".txt") }
    // the bucket column skips at runtime via bucket-id arithmetic even
    // with no stats/bloom evidence (hash layouts defeat range stats)
    val bucketCols = bucketSpec(table).toSeq.map(_._1)
    (statCols ++ bloomCols ++ bucketCols).distinct
  }

  /** Snapshot read restricted to files whose `statCol` range intersects
    * `[lo, hi]` (inclusive; either side optional) in the probe's kind: a
    * metadata-only lookup decides what to scan, so a selective predicate
    * over a range-clustered table touches O(matching files), not O(table).
    * The caller still applies the exact row filter — skipping is sound by
    * range intersection, not a row-level guarantee. Composes with
    * [[Layout]]'s Z-order clustering (cluster on write → narrow per-file
    * ranges → effective skipping).
    */
  def readPruned[T: Stats.Kind](
      spark: SparkSession,
      table: String,
      statCol: String,
      lo: Option[T],
      hi: Option[T],
      asOf: Option[Long] = None): DataFrame = {
    val (kept, _) = prunedFiles(table, statCol, lo, hi, asOf)
    if (kept.isEmpty) read(spark, table, asOf).limit(0)
    else applyDv(spark, table, asOf.getOrElse(versions(table).last),
      spark.read.parquet(
        kept.map(f => Paths.get(table).resolve(f).toString): _*))
  }

  // -------------------------------------------------------------------------
  // Per-file BLOOM index — point-lookup file skipping on unordered layouts
  // -------------------------------------------------------------------------

  /** bits per file per indexed column (1 KiB rendered as 2048 hex chars) */
  val BloomBits = 8192
  /** hash functions per value */
  val BloomK = 4

  private def bloomFile(table: String, column: String): Path =
    logDir(table).resolve(s"bloom_$column.txt")

  private def bloomLines(table: String, column: String): Seq[String] =
    LogText.lines(bloomFile(table, column))

  /** relpath → hex bits of `column`'s Bloom sidecar */
  private def bloomsOf(table: String, column: String): Map[String, String] =
    LogText.pairs(bloomLines(table, column)).toMap

  /** Bloom bit positions of one value — the portable md5 recipe (first 8
    * hex chars as an integer), computed identically driver-side here and
    * executor-side in [[buildBloomIndex]]'s Spark expression.
    */
  private[graft] def bloomPositions(column: String, value: String): Seq[Int] =
    (0 until BloomK).map(j => (Portable.md5Int(s"$column:$j:$value") % BloomBits).toInt)

  /** Build (incrementally) the per-file Bloom index for `column`: every
    * LIVE file not yet indexed gets one `relpath|hexbits` line appended to
    * the column's sidecar. The point-lookup complement of the min/max stats
    * index — min/max skips on RANGE-clustered layouts, a Bloom skips on
    * HASH-clustered/unordered ones, where every file spans the full value
    * range but each key lives in few files.
    *
    * 100 TB shape: position extraction is ONE distributed pass over the new
    * files (distinct (file, position) is capped at [[BloomBits]] rows per
    * file — the collect is file-count × 1 KiB, manifest asymptotics); files
    * are immutable so an indexed file never needs re-indexing, and appends
    * only pay for their own files. Returns the number of files indexed.
    */
  def buildBloomIndex(spark: SparkSession, table: String, column: String): Int = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val have = bloomsOf(table, column).keySet
    // files lacking the column (pre-evolution) are skipped — the lookup
    // keeps bloomless files, so skipping stays sound. Presence comes from
    // each candidate's parquet FOOTER (driver-side metadata read), not a
    // per-file Spark schema-inference job — O(new files) footer tails, the
    // same asymptotics as reading the manifest itself
    val missing = liveFiles(table, vs.last).filterNot(have)
      .filter { f =>
        parquetFooter(Paths.get(table).resolve(f).toString)
          .getFileMetaData.getSchema.containsField(column)
      }
    if (missing.isEmpty) return 0
    val abs = missing.map(f => Paths.get(table).resolve(f).toString)
    val posCols = (0 until BloomK).map { j =>
      (Portable.md5Int(concat(lit(s"$column:$j:"), col(column).cast("string"))) % BloomBits)
        .cast("int")
    }
    val rows = spark.read.parquet(abs: _*)
      .where(col(column).isNotNull)
      .select(input_file_name().as("f"), explode(array(posCols: _*)).as("pos"))
      .distinct()
      .collect()
    val byFile = rows.groupBy { r =>
      val uri = r.getString(0); "data/" + uri.substring(uri.lastIndexOf('/') + 1)
    }
    val lines = missing.map { rel =>
      val bits = new java.util.BitSet(BloomBits)
      byFile.getOrElse(rel, Array.empty).foreach(r => bits.set(r.getInt(1)))
      val words = bits.toLongArray.padTo(BloomBits / 64, 0L)
      s"$rel|${words.map(w => f"$w%016x").mkString}"
    }
    LogText.replace(bloomFile(table, column), bloomLines(table, column) ++ lines)
    missing.size
  }

  private def ndvFile(table: String): Path = logDir(table).resolve("ndv.txt")

  /** Build/refresh the per-column NDV sidecar at the head version — one
    * distributed aggregation pass (`approx_count_distinct`, rsd 0.02),
    * stored as `version|column|ndv` lines. This is PLANNER metadata (the
    * cost-based broadcast rule divides post-skipping row counts by it to
    * estimate equality-filter output), never a correctness surface, so a
    * slightly stale NDV — the sidecar records the version it was measured
    * at — only shades an estimate.
    */
  def buildNdvIndex(spark: SparkSession, table: String, columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "buildNdvIndex needs at least one column")
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val head = vs.last
    val df = read(spark, table, Some(head))
    val aggs = columns.map(c => approx_count_distinct(col(c), 0.02).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val fresh = columns.map(c => s"$head|$c|${row.getAs[Long](c)}")
    val keep = LogText.lines(ndvFile(table))
      // malformed lines (truncated/corrupt sidecar) are DROPPED, mirroring
      // ndvFor's tolerant collectFirst — a raw split()(1) would crash here
      .filter(_.split('|').length == 3)
      .filterNot(l => columns.exists(c => l.split('|')(1).equalsIgnoreCase(c)))
    LogText.replace(ndvFile(table), keep ++ fresh)
  }

  /** the recorded NDV estimate for `column` (measured-at version, ndv) */
  private[sources] def ndvFor(table: String, column: String): Option[(Long, Long)] =
    LogText.lines(ndvFile(table)).map(_.split('|'))
      .collectFirst { case Array(v, c, n) if c.equalsIgnoreCase(column) =>
        (v.toLong, n.toLong) }

  /** live data bytes at a version — metadata-only (manifest + file sizes) */
  private[sources] def liveBytes(table: String, v: Long): Long =
    liveFiles(table, v).map(f => Files.size(Paths.get(table).resolve(f))).sum

  /** live files whose Bloom for `column` may contain `value` (files without
    * a bloom line are always kept — sound, never speculative). Returns
    * (kept, total live).
    */
  private[graft] def pointLookupFiles(
      table: String, column: String, value: String,
      asOf: Option[Long] = None): (Seq[String], Int) = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val files = liveFiles(table, asOf.getOrElse(vs.last))
    val blooms = bloomsOf(table, column)
    val ps = bloomPositions(column, value)
    val kept = files.filter { f =>
      blooms.get(f).forall { hex =>
        ps.forall { p =>
          // word w, bit b within the 16-hex-char little-endian longs that
          // BitSet.toLongArray produced
          val word = java.lang.Long.parseUnsignedLong(
            hex.substring((p / 64) * 16, (p / 64) * 16 + 16), 16)
          (word & (1L << (p % 64))) != 0
        }
      }
    }
    (kept, files.size)
  }

  /** Snapshot read restricted to files whose Bloom may contain
    * `column = value` — the point-lookup twin of [[readPruned]]. The caller
    * still applies the exact equality filter; skipping is sound (no false
    * negatives by Bloom construction), selective on hash-clustered layouts.
    */
  def readPointLookup(
      spark: SparkSession, table: String, column: String, value: String,
      asOf: Option[Long] = None): DataFrame = {
    val (kept, _) = pointLookupFiles(table, column, value, asOf)
    if (kept.isEmpty) read(spark, table, asOf).limit(0)
    else applyDv(spark, table, asOf.getOrElse(versions(table).last),
      spark.read.parquet(kept.map(f => Paths.get(table).resolve(f).toString): _*))
  }

  /** Snapshot read at `asOf` (default: latest). The file list is pinned at
    * plan time — concurrent commits cannot tear the read (snapshot
    * isolation).
    */
  def read(
      spark: SparkSession,
      table: String,
      asOf: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in committed set ${vs.mkString(",")}")
    val files = liveFiles(table, v).map(f => Paths.get(table).resolve(f).toString)
    if (files.isEmpty) spark.emptyDataFrame
    // mergeSchema = schema EVOLUTION read: the union of every live file's
    // columns, missing ones null-backfilled. Without it parquet takes the
    // schema from one file and silently drops columns the others added —
    // required whenever commits span an ALTER-style widening. Footer-only
    // work, so the cost scales with file COUNT (vacuum/compaction keep that
    // bounded), not data size.
    else applyDv(spark, table, v,
      spark.read.option("mergeSchema", mergeSchema).parquet(files: _*))
  }

  /** Merge-on-read: subtract the version's deletion vectors from a scan of
    * its live files. A version without DVs pays NOTHING (the plain scan
    * returns untouched); with DVs the scan gains the parquet reader's
    * `_metadata.row_index` (generated, not stored) and one anti-join on
    * (file, position). No hint on the join: Catalyst broadcasts a small DV
    * relation from its file-size stats, and a mass-delete DV correctly
    * degrades to a shuffle join instead of OOMing the driver.
    */
  private def applyDv(
      spark: SparkSession, table: String, v: Long, base: DataFrame): DataFrame = {
    val dvs = dvFiles(table, v)
    if (dvs.isEmpty) base
    else {
      // helper column names are salted per call: withColumn REPLACES a
      // same-named user column, so fixed names like `_f`/`_p` would silently
      // drop (and mis-position) legitimate user data on every DV'd read
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val (fc, pc, dvf, dvp) =
        (s"_graft_f_$tag", s"_graft_p_$tag", s"_graft_dvf_$tag", s"_graft_dvp_$tag")
      val dv = spark.read.parquet(
          dvs.map(f => Paths.get(table).resolve(f).toString): _*)
        .select(col("f").as(dvf), col("p").as(dvp))
      base
        .withColumn(fc,
          concat(lit("data/"), element_at(split(col("_metadata.file_path"), "/"), -1)))
        .withColumn(pc, col("_metadata.row_index"))
        .join(dv, col(fc) === col(dvf) && col(pc) === col(dvp), "left_anti")
        .drop(fc, pc)
    }
  }

  /** DELETE ... WHERE via DELETION VECTORS: no data file is rewritten — the
    * matched (file, row_index) positions are written as a parquet DV sidecar
    * and the next manifest references the SAME data files plus the DV (the
    * Delta/Iceberg merge-on-read delete). Cost scales with the matched rows
    * (one predicate scan + a DV write), not with the table; repeated deletes
    * merge their DVs (distinct positions, so re-deleting is idempotent); the
    * per-file stats index carries forward (min/max stay sound — possibly
    * wider than live content, which only costs pruning selectivity, never
    * correctness). [[optimize]] reads through the DVs and publishes a
    * rewritten snapshot WITHOUT them — compaction is also DV-materialization.
    * Prior versions still time-travel to the undeleted rows until vacuumed.
    */
  def deleteWhere(spark: SparkSession, table: String, cond: String): Long = {
    require(versions(table).nonEmpty, s"no committed versions under $table")
    withRetry(table) { nv =>
      // the delete re-reads the head inside the retry: a conflict loser
      // re-matches against the winner's files and DVs (a lost DV file from
      // the failed attempt stays unreferenced for gcOrphans)
      val v = nv - 1
      val head = carried(table, v)
      require(head.files.nonEmpty, s"version $v of $table has no data files")
      // mergeSchema: on a schema-evolved table (which read() supports) a
      // single-file-inferred schema would make a predicate on a later-added
      // column throw or silently match nothing for the files lacking it
      val hits = spark.read.option("mergeSchema", true).parquet(
          head.files.map(f => Paths.get(table).resolve(f).toString): _*)
        .where(expr(cond))
        .select(
          concat(lit("data/"),
            element_at(split(col("_metadata.file_path"), "/"), -1)).as("f"),
          col("_metadata.row_index").as("p"))
      val merged =
        if (head.dvs.isEmpty) hits.distinct()
        else hits.unionByName(spark.read.parquet(
            head.dvs.map(f => Paths.get(table).resolve(f).toString): _*))
          .distinct()
      val moved = writeDataFiles(merged.coalesce(1), table)
      publish(table, nv, head.files, dvs = moved, stats = head.stats)
    }
  }

  /** OPTIMIZE: rewrite the latest snapshot into `nFiles` compacted data
    * files and publish that as a NEW version — readers never see a torn
    * table (snapshot isolation), prior versions still time-travel to the
    * small-file layout until [[vacuum]] reclaims it. The metadata-log twin
    * of [[Compaction]]'s in-place partition rewrite: here the table's
    * mutability lives entirely in the manifest, so "rewrite" is an append
    * of new files plus one atomic manifest publish.
    */
  /** test seam: runs between a compaction's snapshot read and its publish
    * attempt, so a spec can interleave a concurrent commit deterministically
    */
  private[graft] var testBeforeCompactPublish: () => Unit = () => ()

  /** Compact-and-publish with a PINNED source version: the snapshot read at
    * head H may only publish as H+1 (the manifest link is put-if-absent).
    * If a concurrent commitAppend/deleteWhere takes H+1 first, this
    * compaction's content is STALE — publishing it on a bumped version (what
    * [[withRetry]] does for appends, where content is version-independent)
    * would silently drop that commit from the new head (a lost update). So
    * the loser deletes its staged files and restarts the whole
    * read→rewrite→publish cycle against the new head — Delta's OPTIMIZE
    * conflict-detection rule.
    */
  private def compactRetry(spark: SparkSession, table: String)(
      snapshotAt: Long => (DataFrame, Seq[String])): Long = {
    var attempts = 0
    while (true) {
      val vs = versions(table)
      require(vs.nonEmpty, s"no committed versions under $table")
      val head = vs.last
      val (snapshot, statCols) = snapshotAt(head)
      val kinds = statKinds(snapshot.schema, statCols)
      val moved = writeConstrained(snapshot, table)
      val stats = gatherStats(spark, table, moved, kinds)
      testBeforeCompactPublish()
      try return publish(table, head + 1, moved, stats = stats)
      catch {
        case _: CommitConflict =>
          moved.foreach(f => Files.deleteIfExists(Paths.get(table).resolve(f)))
          attempts += 1
          require(attempts < 100, s"compaction on $table conflicted $attempts times")
      }
    }
    -1L // unreachable
  }

  def optimize(spark: SparkSession, table: String, nFiles: Int = 1): Long = {
    require(nFiles > 0, "nFiles must be positive")
    compactRetry(spark, table) { head =>
      // compacting a stats-indexed table must not silently discard the
      // min/max file index (readPruned would degrade to keep-all): recover
      // the indexed columns from the NEWEST ANCESTOR sidecar (the head
      // itself may be statless after a crash between publish and sidecar
      // write — statsAt(head) alone would permanently drop the index,
      // the exact degradation commitAppend/deleteWhere already heal)
      val statCols = latestStats(table, head).map(_.col).distinct
      (read(spark, table, Some(head)).coalesce(nFiles), statCols)
    }
  }

  /** OPTIMIZE ZORDER (the Delta `OPTIMIZE ... ZORDER BY` shape): rewrite the
    * latest snapshot CLUSTERED by the Morton interleave of two long columns
    * ([[Layout.zValue]]) into `nFiles` range-partitioned files, committed as
    * a new atomic version with a fresh stats sidecar over the z-order
    * columns (plus any previously indexed columns). Clustering is what makes
    * the per-file [min, max] index BITE: after the rewrite each file covers
    * a narrow box in (a, b) space, so [[readPruned]] on EITHER column skips
    * most files — compaction and skipping-layout maintenance in one commit,
    * with time travel to the unclustered layout intact until vacuum.
    */
  def optimizeZOrder(
      spark: SparkSession,
      table: String,
      colA: String,
      colB: String,
      nFiles: Int = 8): Long = {
    require(nFiles > 0, "nFiles must be positive")
    compactRetry(spark, table) { head =>
      // latestStats, not statsAt: survive a statless head (see optimize)
      val prevStatCols = latestStats(table, head).map(_.col).distinct
      val snap = read(spark, table, Some(head))
      val Seq(za, zb) = zDims(snap, Seq(colA, colB), Layout.ZBits)
      val clustered = snap
        .withColumn("_z", Layout.zValue(za, zb))
        .repartitionByRange(nFiles, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
      (clustered, (prevStatCols ++ Seq(colA, colB)).distinct)
    }
  }

  /** driver-side twin of [[Layout.stringZKey]]: pack the first
    * `max(1, bits/7)` code points (clamped to 127, zero-padded) of `s`,
    * 7 bits each, most significant first. The pack is monotone
    * NON-DECREASING in code-point order, so evaluating it on a column's
    * min/max STRINGS yields the min/max of the packed KEY — what lets
    * [[zDims]] grid-normalize string dimensions without a second agg.
    */
  private def packStr(s: String, bits: Int): Long = {
    val k = math.max(1, bits / 7)
    var acc = 0L
    var out = 0
    var ci = 0
    while (out < k) {
      val cp =
        if (ci < s.length) {
          val c = s.codePointAt(ci); ci += Character.charCount(c)
          math.min(c, 127)
        } else 0
      acc |= cp.toLong << (7 * (k - 1 - out))
      out += 1
    }
    acc
  }

  /** One Z-order key column per dimension, each NORMALIZED to the full
    * `[0, 2^bits)` grid from the snapshot's min/max (one shared agg):
    * without normalization, dimensions of different magnitudes interleave
    * unfairly — a 0..200 key contributes ~8 low bits against a 2^27-valued
    * neighbor's high bits (so one dimension degenerates), and raw values
    * beyond the grid edge all clamp into ONE cell. STRING columns first
    * strip the column's GLOBAL common prefix (every value sorts between
    * min and max, hence shares THEIR common prefix, so dropping it is
    * order-preserving on the actual domain; a shared prefix like `brand`
    * or `2024-` would otherwise saturate the few packed characters), then
    * pack through the order-preserving 7-bit [[Layout.stringZKey]] and
    * normalize the PACKED key (its bounds derive driver-side from the
    * min/max strings — [[packStr]] is monotone). All of this is
    * clustering-quality only: the stats sidecar re-gathers REAL column
    * values after the rewrite, so a poor key can never mis-prune.
    */
  private def zDims(df: DataFrame, cols: Seq[String], bits: Int): Seq[Column] = {
    val maxV = (1L << bits) - 1
    val k = math.max(1, bits / 7)
    val isStr = cols.map(c => c -> df.schema.find(_.name.equalsIgnoreCase(c))
      .exists(_.dataType == org.apache.spark.sql.types.StringType)).toMap
    val aggs = cols.flatMap { c =>
      val r = if (isStr(c)) col(c) else col(c).cast("long")
      Seq(min(r).as(s"__zmn_$c"), max(r).as(s"__zmx_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    def scaled(raw: Column, mn: Long, mx: Long): Column =
      if (mx > mn)
        floor((raw.cast("double") - lit(mn.toDouble)) *
          lit(maxV.toDouble / (mx.toDouble - mn.toDouble))).cast("long")
      else lit(0L) // constant (or empty) dimension: carries no information
    cols.map { c =>
      if (isStr(c)) {
        val mnS = Option(row.getAs[String](s"__zmn_$c")).getOrElse("")
        val mxS = Option(row.getAs[String](s"__zmx_$c")).getOrElse("")
        // common prefix, counted in code points (Spark substring's unit)
        var i = 0
        var cp = 0
        while (i < mnS.length && i < mxS.length &&
          mnS.codePointAt(i) == mxS.codePointAt(i)) {
          i += Character.charCount(mnS.codePointAt(i)); cp += 1
        }
        val key = Layout.stringZKey(substring(col(c), cp + 1, k), bits)
        scaled(key, packStr(mnS.substring(i), bits), packStr(mxS.substring(i), bits))
      } else {
        (Option(row.getAs[java.lang.Long](s"__zmn_$c")),
          Option(row.getAs[java.lang.Long](s"__zmx_$c"))) match {
          case (Some(mn), Some(mx)) => scaled(col(c), mn, mx)
          case _ => lit(0L)
        }
      }
    }
  }

  /** N-dimensional OPTIMIZE ZORDER (2..6 long or string columns — strings
    * interleave via [[Layout.stringZKey]]'s order-preserving prefix): the same
    * stats-preserving compactRetry as the 2-D form, clustered by
    * [[Layout.zValueN]]'s N-way bit interleave — every file's bounding box
    * over EVERY clustered column stays tight, so the per-file stats index
    * prunes on any predicate dimension. Each dimension gets floor(62/N)
    * bits; values beyond that clamp (looser clustering, never wrong reads).
    */
  def optimizeZOrderN(
      spark: SparkSession,
      table: String,
      cols: Seq[String],
      nFiles: Int = 8): Long = {
    require(nFiles > 0, "nFiles must be positive")
    require(cols.size >= 2 && cols.size <= 6,
      s"optimizeZOrderN takes 2..6 columns, got ${cols.size}")
    compactRetry(spark, table) { head =>
      val prevStatCols = latestStats(table, head).map(_.col).distinct
      val snap = read(spark, table, Some(head))
      val clustered = snap
        .withColumn("_z", Layout.zValueN(zDims(snap, cols, 62 / cols.size)))
        .repartitionByRange(nFiles, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
      (clustered, (prevStatCols ++ cols).distinct)
    }
  }

  /** ROLLBACK (Delta's `RESTORE TABLE ... VERSION AS OF`): make the head
    * state equal `toVersion` again by publishing that version's manifest
    * (files + DVs) as a NEW commit — the bad commits stay in history
    * (time-travelable until vacuum), nothing is deleted, and the operation
    * is itself just one atomic metadata publish. The change feed derives
    * the right deltas with no special casing: files the bad commit added
    * become deletes, files it dropped re-insert. The target's stats
    * sidecar carries forward (same immutable files, same ranges). The
    * undo button every production table format ships.
    */
  def rollbackTo(table: String, toVersion: Long): Long = {
    require(versions(table).contains(toVersion),
      s"version $toVersion not in committed set ${versions(table).mkString(",")}")
    withRetry(table) { v =>
      val target = carried(table, toVersion)
      publish(table, v, target.files, dvs = target.dvs, stats = target.stats)
    }
  }

  /** data files live at the given (default latest) version — count these to
    * observe compaction
    */
  def liveFileCount(table: String, asOf: Option[Long] = None): Int = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    liveFiles(table, asOf.getOrElse(vs.last)).size
  }

  // -------------------------------------------------------------------------
  // Named version refs (TAGS) — Iceberg/Delta-style named snapshots
  // -------------------------------------------------------------------------

  private def refsFile(table: String): Path = logDir(table).resolve("refs.txt")

  private val TagOk = "[A-Za-z][A-Za-z0-9_.-]*".r

  /** all named refs: tag → version (empty when none recorded) */
  def refs(table: String): Map[String, Long] =
    LogText.pairs(LogText.lines(refsFile(table)))
      .flatMap { case (t, v) => v.toLongOption.map(t -> _) }.toMap

  /** the version a tag names (None: no such tag) */
  def refVersion(table: String, tag: String): Option[Long] = refs(table).get(tag)

  private def writeRefs(table: String, m: Map[String, Long]): Unit =
    LogText.replace(refsFile(table), m.toSeq.sortBy(_._1).map { case (t, v) => s"$t|$v" })

  /** TAG a committed version with an immutable name: `VERSION AS OF
    * '<tag>'` through the catalog resolves it, and [[vacuum]] PROTECTS it —
    * a tagged snapshot stays readable past any retention window (the
    * Iceberg tag / Delta named-snapshot contract). Tags must start with a
    * letter (a digits-only name would shadow numeric time travel) and are
    * write-once — re-pointing a name readers may hold is a silent
    * time-travel lie, so re-tagging requires an explicit [[untagVersion]].
    * A tag pins everything at-or-after it until untagged (vacuum reclaims
    * untagged PREFIXES only — see [[vacuum]] for why middle gaps are
    * unsound for delta-chain consumers). The refs file is replaced by
    * atomic move (never torn), but tagging is a read-modify-write:
    * concurrent taggers can lose one name — tags are operator actions, not
    * a data-plane path, so this stays simple rather than joining the
    * manifests' put-if-absent protocol.
    */
  def tagVersion(table: String, tag: String, v: Long): Unit = {
    require(TagOk.pattern.matcher(tag).matches(),
      s"tag '$tag' must match ${TagOk.regex} (letters first — numeric names shadow versions)")
    require(versions(table).contains(v),
      s"cannot tag $table@v$v: not a committed version")
    val cur = refs(table)
    require(!cur.contains(tag),
      s"tag '$tag' already names v${cur(tag)} of $table — untag first (tags are write-once)")
    writeRefs(table, cur + (tag -> v))
  }

  /** remove a tag (its version becomes vacuumable again); false if absent */
  def untagVersion(table: String, tag: String): Boolean = {
    val cur = refs(table)
    if (!cur.contains(tag)) false
    else { writeRefs(table, cur - tag); true }
  }

  /** Drop manifests older than the last `keepVersions` and delete data files
    * no kept manifest references. Returns (versions dropped, files deleted).
    */
  def vacuum(table: String, keepVersions: Int = 1): (Seq[Long], Int) = {
    val (drop, doomed) = retention(table, keepVersions)
    doomed.foreach(f => Files.deleteIfExists(Paths.get(table).resolve(f)))
    drop.foreach { v =>
      Files.delete(versionFile(table, v))
      Files.deleteIfExists(statsFile(table, v))
    }
    (drop, doomed.size)
  }

  /** Vacuum DRY RUN — the reclaim report an operator reads BEFORE deleting
    * anything: for a given retention, which versions would drop, how many
    * data files only those versions reference, and how many bytes that
    * frees. Pure manifest arithmetic plus file stats — no mutation, so the
    * answer can be reviewed (or alerted on) safely; [[vacuum]] executes
    * exactly this plan.
    */
  def vacuumPlan(table: String, keepVersions: Int = 1): (Seq[Long], Int, Long) = {
    val (drop, doomed) = retention(table, keepVersions)
    val bytes = doomed.toSeq.map { f =>
      val p = Paths.get(table).resolve(f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    (drop, doomed.size, bytes)
  }

  /** the versions a `keepVersions` retention drops, and the files only
    * they reference — the plan [[vacuum]] executes and [[vacuumPlan]] reports
    */
  private def retention(table: String, keepVersions: Int): (Seq[Long], Set[String]) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val vs = versions(table)
    // tagged versions are PINNED, and retention never crosses the OLDEST
    // tag: vacuum drops a contiguous untagged PREFIX only, because every
    // delta-chain consumer (stepDiff, change feed, history classification)
    // reads version v-1's manifest — a vacuumed MIDDLE version would turn
    // their exact deltas into crashes or, worse, wrong inserts
    val tagged = refs(table).values.toSet
    val (dropCand, keepTail) = vs.splitAt((vs.size - keepVersions).max(0))
    val drop = dropCand.takeWhile(v => !tagged(v))
    val keep = keepTail ++ dropCand.drop(drop.size)
    (drop, drop.flatMap(referencedAt(table, _)).toSet -- keep.flatMap(referencedAt(table, _)))
  }

  /** every file version `v`'s manifest references: data files and DVs */
  private def referencedAt(table: String, v: Long): Seq[String] = {
    val m = manifest(table, v)
    m.files ++ m.dvs
  }

  /** Remove ORPHANED data files — written by a crashed commit but never
    * published in any version manifest ([[vacuum]] only reclaims files of
    * DROPPED versions, so a commit that died between [[writeDataFiles]] and
    * [[publish]] leaks storage forever without this). Also sweeps abandoned
    * `.staging_*` directories. Every file referenced by ANY live version is
    * untouched; returns the number of files removed.
    */
  def gcOrphans(table: String): Int = {
    val referenced = versions(table)
      .flatMap(referencedAt(table, _))
      .map(rel => Paths.get(table).resolve(rel).normalize()).toSet
    val stray = listDir(dataDir(table)).filterNot(p => referenced(p.normalize()))
    stray.foreach(Files.deleteIfExists(_))
    val staged = listDir(Paths.get(table))
      .filter(_.getFileName.toString.startsWith(".staging_"))
    val stagedFiles = staged.flatMap(listDir)
    stagedFiles.foreach(Files.deleteIfExists(_))
    staged.foreach(Files.deleteIfExists(_))
    stray.size + stagedFiles.size
  }

  /** Order-free content checksum of a relation: md5-half of each row's
    * canonical JSON rendering, summed — any partitioning/file layout of the
    * same rows yields the same (count, checksum) pair. Per-row values stay
    * < 2^32 so the sum never overflows int64 below 2^31 rows.
    */
  private def contentChecksum(df: DataFrame): (Long, Long) = {
    val r = df.select(
      count(lit(1)).as("n"),
      coalesce(sum(
        Portable.md5Int(to_json(struct(df.columns.map(col): _*)))), lit(0L)).as("cs"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Export the snapshot at `asOf` (default: latest) as a self-contained
    * backup: data parquet plus a MANIFEST recording (version, row count,
    * order-free content checksum). The checksum is computed from the
    * WRITTEN files read back, so it covers the serialized bytes a restore
    * will actually consume — the disaster-recovery export every production
    * table format ships.
    */
  def backup(spark: SparkSession, table: String, destDir: String,
             asOf: Option[Long] = None): Long = {
    val v = asOf.getOrElse(versions(table).max)
    read(spark, table, asOf = Some(v))
      .write.mode("overwrite").parquet(destDir + "/data")
    val (n, cs) = contentChecksum(spark.read.parquet(destDir + "/data"))
    LogText.replace(Paths.get(destDir, "MANIFEST"), Seq(v, n, cs).map(_.toString))
    v
  }

  /** Restore a [[backup]] into a fresh table log: the backup's content is
    * re-verified against its MANIFEST (count + checksum) and the restore
    * REFUSES a corrupted or tampered backup — then commits the data as the
    * new log's first version. Returns the committed version id.
    */
  def restore(spark: SparkSession, backupDir: String, newTable: String): Long = {
    // MANIFEST lines: version, row count, checksum — a short or garbled
    // one fails the integrity check like any other tampered backup
    val recorded = LogText.lines(Paths.get(backupDir, "MANIFEST")).slice(1, 3).flatMap(_.toLongOption)
    require(recorded.size == 2, s"backup integrity check failed: MANIFEST lacks rows and checksum")
    val Seq(n0, cs0) = recorded
    val df = spark.read.parquet(backupDir + "/data")
    val (n, cs) = contentChecksum(df)
    require(n == n0 && cs == cs0,
      s"backup integrity check failed: rows $n vs $n0, checksum $cs vs $cs0")
    commitOverwrite(df, newTable)
  }

  /** ZERO-COPY shallow clone (Delta's `SHALLOW CLONE` on a filesystem log
    * store): the snapshot at `asOf` (default head) becomes a NEW table whose
    * v0 manifest lists the SAME relative file names, with every data/DV
    * parquet HARD-LINKED into the clone's directory — data files are
    * immutable, so two directory entries over one inode is always safe, and
    * each table's vacuum/gcOrphans only unlinks its OWN entries (the inode
    * survives until the last link drops). Cost is O(files) driver-side
    * metadata, not O(bytes) — the 100 TB dev-branch primitive. Stats lines,
    * recorded row counts (both keyed by relpath, both still true of the
    * linked files) and CHECK constraints carry; tags and NDV do not (tags
    * name the SOURCE's history; NDV records a measured-at version that has
    * no meaning in the clone's log). Cross-filesystem targets fall back to
    * a real copy per file. GDPR note: erasure applied to either table never
    * reaches the other's manifest — re-run propagation on the clone.
    */
  def cloneTable(src: String, dst: String,
                 asOf: Option[Long] = None): Long = {
    val vs = versions(src)
    require(vs.nonEmpty, s"no committed versions under $src")
    require(versions(dst).isEmpty, s"clone target $dst already has versions")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v of $src does not exist (have $vs)")
    val snap = carried(src, v)
    (snap.files ++ snap.dvs).foreach { rel =>
      val (s, d) = (Paths.get(src).resolve(rel), Paths.get(dst).resolve(rel))
      Files.createDirectories(d.getParent)
      try Files.createLink(d, s)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => () // idempotent re-run
        case _: Exception => Files.copy(s, d) // cross-device: degrade to copy
      }
    }
    // row counts + stats are per-relpath facts about immutable files — filter
    // to the cloned live set and re-key nothing
    val liveSet = (snap.files ++ snap.dvs).toSet
    val counts = rowCounts(src).filter { case (f, _) => liveSet(f) }
    LogText.append(rowCountsFile(dst), counts.map { case (f, n) => s"$f|$n" }.toSeq)
    checkConstraints(src).foreach { case (n, e) => addCheckConstraint(dst, n, e) }
    publish(dst, 0L, snap.files, dvs = snap.dvs, stats = snap.stats)
  }

  /** Build/refresh the per-file [min, max] STATS sidecar for the head
    * version from parquet FOOTERS alone — the post-hoc `ANALYZE` for tables
    * committed without `statCols`. Each footer is a driver-side KB read
    * (block metadata already stores per-column statistics); no Spark job,
    * no data scan — the metadata asymptotics a 100 TB retrofit needs.
    * INT64 and BINARY-UTF8 (string) columns with complete, non-empty footer
    * statistics emit a line; a column a file lacks (or
    * wrote without stats) is simply absent for that file, which readPruned
    * treats as keep-always — sound. Ranges cover PHYSICAL rows, so they may
    * be wider than the DV-visible data: pruning stays sound, and the
    * metadata min/max agg path independently requires zero DVs.
    * Returns the number of (file, column) lines now recorded at head.
    */
  def buildStatsIndex(table: String, columns: Seq[String]): Int = {
    require(columns.nonEmpty, "buildStatsIndex needs at least one column")
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions under $table")
    val head = vs.last
    val live = liveFiles(table, head)
    val wanted = columns.map(c => c -> c.toLowerCase).toMap
    val fresh = live.flatMap { rel =>
      val footer = parquetFooter(Paths.get(table).resolve(rel).toString)
      val blocks = footer.getBlocks.asScala.toSeq
      columns.flatMap { c =>
        val ranges: Seq[Either[(Long, Long), (UTF8String, UTF8String)]] =
          blocks.flatMap { b =>
            b.getColumns.asScala.find(cc =>
              cc.getPath.toDotString.equalsIgnoreCase(wanted(c))).flatMap { cc =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else cc.getPrimitiveType.getPrimitiveTypeName match {
                case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
                  Some(Left((st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                    st.genericGetMax.asInstanceOf[java.lang.Long].longValue())))
                case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
                  if cc.getPrimitiveType.getLogicalTypeAnnotation.isInstanceOf[
                    org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                  // footer binary min/max compare unsigned-lexicographic —
                  // the sidecar's own collation; parquet-mr writes them
                  // EXACT under default settings (truncation is opt-in, and
                  // every file this engine writes goes through Spark's
                  // default writer)
                  def utf8(x: Any) = UTF8String.fromBytes(
                    x.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
                  Some(Right((utf8(st.genericGetMin), utf8(st.genericGetMax))))
                case _ => None
              }
            }
          }
        val longs = ranges.collect { case Left(r) => r }
        val strs = ranges.collect { case Right(r) => r }
        // every block must carry stats, else the file-level range would be
        // speculative — skip the line (keep-always is the sound direction)
        if (longs.size == blocks.size && longs.nonEmpty)
          Some(Stats.Stat(rel, c, Stats.Int64, longs.map(_._1).min, longs.map(_._2).max))
        else if (strs.size == blocks.size && strs.nonEmpty)
          Some(Stats.Stat(rel, c, Stats.Utf8,
            strs.map(_._1).min(Stats.Utf8), strs.map(_._2).max(Stats.Utf8)))
        else None
      }
    }
    // malformed lines never parse, so they drop here too
    val colsLower = columns.map(_.toLowerCase).toSet
    val keep = latestStats(table, head).filterNot(s => colsLower(s.col.toLowerCase))
    writeStats(table, head, keep ++ fresh)
    fresh.size
  }

  /** [[optimize]] with a TARGET FILE SIZE instead of a file count — the form
    * a 100 TB operator actually speaks ("128 MB files", not "N files"): the
    * output file count derives from the snapshot's live bytes, clamped to
    * [1, current live file count] (compaction never INCREASES file count).
    */
  def optimizeToSize(spark: SparkSession, table: String,
                     targetBytes: Long): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val head = versions(table).last
    val bytes = liveBytes(table, head)
    val nLive = liveFiles(table, head).size
    val n = math.max(1L, math.min(nLive.toLong,
      (bytes + targetBytes - 1) / targetBytes)).toInt
    optimize(spark, table, n)
  }

  // ---- the graded query: time travel over two commits of orders ----------

  private val built = graft.Scratch.fixture[String]("graft_tlog", "orders")

  private[graft] def ordersVersioned(s: SparkSession, dir: String): String =
    built(dir) { root =>
      val table = root + "/orders"
      val orders = Tables.load(s, dir, "orders")
      val cut = lit("1998-01-01").cast("timestamp")
      commitAppend(orders.where(col("o_orderdate") < cut), table)
      commitAppend(orders.where(col("o_orderdate") >= cut), table)
      table
    }

  /** Per-version accounting across the log: version 0 must still read as
    * exactly the pre-1998 snapshot AFTER version 1 was committed — the
    * snapshot-isolation/time-travel contract. The oracle recomputes both
    * prefixes from the source table directly.
    */
  def timeTravelRead(s: SparkSession, dir: String): DataFrame = {
    val table = ordersVersioned(s, dir)
    def snap(v: Long): DataFrame =
      read(s, table, Some(v)).select(
        lit(v.toInt).as("version"),
        col("o_orderkey"), col("o_totalprice"))
    snap(0L).unionByName(snap(1L))
      .groupBy("version")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  private val timeTravelReadSql =
    """SELECT CAST(0 AS INTEGER) AS version, count(*) AS n_orders,
      |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |UNION ALL
      |SELECT 1, count(*),
      |       CAST(sum(o_orderkey) AS BIGINT),
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM orders""".stripMargin

  /** Generic SNAPSHOT DIFF between two committed versions of a table-log
    * table: full-outer join the two time-travel reads on the key and
    * classify every key as added / removed / changed / unchanged. The
    * audit primitive a version-diff CLI ("what did commit N change?") and
    * a CDC-reconstruction check both reduce to.
    *
    * 100 TB shape: both snapshot reads are manifest-pruned scans; the diff
    * is ONE co-partitioned full-outer join on the key (run it over the
    * bucketed key layout and nothing re-shuffles); the output is key-sized,
    * and consumers that only need counts aggregate it without
    * materializing.
    */
  def diffVersions(
      s: SparkSession, table: String, vA: Long, vB: Long,
      key: String, valueCol: String): DataFrame = {
    val a = read(s, table, Some(vA))
      .select(col(key).as("ka"), col(valueCol).as("va"))
    val b = read(s, table, Some(vB))
      .select(col(key).as("kb"), col(valueCol).as("vb"))
    a.join(b, col("ka") === col("kb"), "full_outer")
      .select(
        coalesce(col("ka"), col("kb")).as(key),
        col("va"), col("vb"),
        when(col("kb").isNull, "removed")
          .when(col("ka").isNull, "added")
          .when(col("va") =!= col("vb"), "changed")
          .otherwise("unchanged").as("class"))
  }

  private val diffBuilt = graft.Scratch.fixture[String]("graft_tlog", "orders_diff")

  /** versioned table whose second commit is a full next-state OVERWRITE
    * exercising every diff class: keys ≡0 (mod 10) disappear, ≡1 double
    * their cents, ≡2 additionally appear under a fresh synthetic key —
    * all pure functions of the source table, so the oracle replays the
    * classification without ever seeing the log.
    */
  private[graft] def ordersDiffed(s: SparkSession, dir: String): String =
    diffBuilt(dir) { root =>
      val table = root + "/orders_diff"
      val base = Tables.load(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      commitAppend(base, table)
      val next = base.where(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 1, col("cents") * 2)
            .otherwise(col("cents")).as("cents"))
        .unionByName(base.where(col("o_orderkey") % 10 === 2)
          .select((col("o_orderkey") + lit(10000000000L)).as("o_orderkey"),
            (col("cents") + 7).as("cents")))
      commitOverwrite(next, table)
      table
    }

  /** Version-diff accounting v0→v1 over [[ordersDiffed]]: per class, the
    * key count, exact key sum, and the signed cents delta (removed rows
    * contribute −cents, added +cents, changed the difference). Any
    * misclassified, lost, or double-counted key flips a sum.
    */
  def versionDiff(s: SparkSession, dir: String): DataFrame = {
    val t = ordersDiffed(s, dir)
    diffVersions(s, t, 0L, 1L, "o_orderkey", "cents")
      .groupBy(col("class"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(coalesce(col("vb"), lit(0L)) - coalesce(col("va"), lit(0L)))
          .as("delta_cents"))
  }

  private val versionDiffSql =
    """WITH base AS (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |cls AS (
      |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'removed'
      |              WHEN o_orderkey % 10 = 1 THEN 'changed'
      |              ELSE 'unchanged' END AS class,
      |         o_orderkey,
      |         CASE WHEN o_orderkey % 10 = 0 THEN -cents
      |              WHEN o_orderkey % 10 = 1 THEN cents
      |              ELSE 0 END AS delta
      |  FROM base
      |  UNION ALL
      |  SELECT 'added', o_orderkey + 10000000000, cents + 7
      |  FROM base WHERE o_orderkey % 10 = 2)
      |SELECT class, count(*) AS n_keys,
      |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |       CAST(sum(delta) AS BIGINT) AS delta_cents
      |FROM cls GROUP BY class""".stripMargin

  private val evolved = graft.Scratch.fixture[String]("graft_tlog", "orders_evolved")

  /** versioned table whose second commit WIDENS the schema: v0 holds even
    * orders as (o_orderkey, cents); v1 appends odd orders with a new
    * `status` column v0's files have never heard of.
    */
  private[graft] def ordersEvolved(s: SparkSession, dir: String): String =
    evolved(dir) { root =>
      val table = root + "/orders_evolved"
      val orders = Tables.load(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
      commitAppend(orders.where(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "cents"), table)
      commitAppend(orders.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("cents"), col("o_orderstatus").as("status")), table)
      table
    }

  /** Schema-evolution read: after a widening commit, the latest snapshot
    * must surface the new column with pre-evolution rows null-backfilled —
    * and lose no row or value from either side. Aggregating per status
    * (nulls bucketed as '(v0)') over exact integer cents makes any dropped
    * column, dropped row, or misaligned backfill flip the oracle hash.
    */
  def schemaEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    val table = ordersEvolved(s, dir)
    read(s, table, mergeSchema = true)
      .groupBy(coalesce(col("status"), lit("(v0)")).as("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("cents")).as("sum_cents"))
  }

  private val schemaEvolutionReadSql =
    """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus ELSE '(v0)' END AS status,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Bitemporal as-of (transaction time × valid time)
  // -------------------------------------------------------------------------

  /** memoized two-version bitemporal state table: SCD2 validity intervals
    * of each user's value stream, committed TWICE — tx-version 0 sees only
    * the events that had ARRIVED on time (md5 picks a deterministic 20% as
    * late/out-of-order), tx-version 1 sees the corrected full history.
    */
  private val btBuilt = graft.Scratch.fixture[String]("graft_btemp", "user_state")
  private def btTable(s: SparkSession, dir: String): String =
    btBuilt(dir) { root =>
      val table = root + "/user_state"
      val ev = graft.Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          floor(col("value") * 100).cast("long").as("cents"))
      def scd2(e: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("us"), col("event_id"))
        e.withColumn("vt_to", lead(col("us"), 1).over(w))
          .select(col("user_id"), col("cents"),
            col("us").as("vt_from"), col("vt_to"))
      }
      val onTime = Portable.md5Int(concat(lit("bt:late:"), col("event_id").cast("string"))) % 5 =!= 0
      commitOverwrite(scd2(ev.where(onTime)), table)
      commitOverwrite(scd2(ev), table)
      table
    }

  /** Bitemporal as-of: "what do we believe, at each TRANSACTION-time
    * version of the table, about each user's state VALID at instant V?" —
    * the two-axis query a warehouse needs once data arrives out of order
    * (Snodgrass/SQL:2011 semantics; Delta/Iceberg give only the tx axis,
    * SCD2 only the valid axis; the composition is this operator). V is the
    * data-derived epoch midpoint; tx versions are real table-log commits
    * (late rows withheld at v0, merged at v1), and the as-of read is an
    * interval containment filter `vt_from ≤ V < vt_to` over the versioned
    * SCD2 relation. Output: per tx snapshot the believed-state accounting
    * (count / cents sum / portable hash-sum), plus the LATE-DATA IMPACT
    * rows — how many users' beliefs about the SAME valid instant changed or
    * appeared between tx versions: the restatement report out-of-order
    * pipelines publish. Every number is exact integer arithmetic, replayed
    * by the oracle from the raw events — the gate proves commit isolation,
    * interval construction and the as-of filter end to end.
    */
  def bitemporalAsOf(s: SparkSession, dir: String): DataFrame = {
    val table = btTable(s, dir)
    val vs = versions(table)
    val mid = graft.Tables.load(s, dir, "events")
      .agg(((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / lit(2L))
        .cast("long").as("v"))
    def beliefs(tx: Long): DataFrame =
      read(s, table, Some(tx)).crossJoin(broadcast(mid))
        .where(col("vt_from") <= col("v") &&
          (col("vt_to").isNull || col("v") < col("vt_to")))
        .select(col("user_id"), col("cents"))
    val (b0, b1) = (beliefs(vs.head), beliefs(vs.last))
    def acct(df: DataFrame, label: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_users"),
        coalesce(sum(col("cents")), lit(0L)).as("cents_sum"),
        coalesce(sum(Portable.md5Int(concat(lit("bt:"), concat_ws(":", col("user_id"), col("cents"))))),
          lit(0L))
          .as("hash_sum"))
        .select(lit(label).as("snapshot"), col("n_users"), col("cents_sum"),
          col("hash_sum"))
    val changed = b1.join(b0.withColumnRenamed("cents", "c0"), "user_id")
      .where(col("cents") =!= col("c0")).select("user_id", "cents")
    val added = b1.join(b0.select("user_id"), Seq("user_id"), "left_anti")
    Seq(acct(b0, "tx0"), acct(b1, "tx1"),
      acct(changed, "restated"), acct(added, "late_added")).reduce(_.union(_))
  }

  private val bitemporalAsOfSql = {
    val hashSum = "CAST(coalesce(sum(" +
      Portable.md5IntSql("'bt:' || CAST(user_id AS VARCHAR) || ':' || CAST(cents AS VARCHAR)") +
      "), 0) AS BIGINT)"
    s"""WITH e AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mid AS (
      |  SELECT CAST((CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT)) // 2 AS BIGINT) AS v
      |  FROM e),
      |b0 AS (
      |  SELECT user_id, cents FROM (
      |    SELECT user_id, cents,
      |           row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e, mid
      |    WHERE us <= v
      |      AND ${Portable.md5IntSql("'bt:late:' || CAST(event_id AS VARCHAR)")} % 5 <> 0)
      |  WHERE rn = 1),
      |b1 AS (
      |  SELECT user_id, cents FROM (
      |    SELECT user_id, cents,
      |           row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e, mid WHERE us <= v)
      |  WHERE rn = 1),
      |ch AS (
      |  SELECT b1.user_id, b1.cents FROM b1 JOIN b0 USING (user_id)
      |  WHERE b1.cents <> b0.cents),
      |ad AS (
      |  SELECT user_id, cents FROM b1
      |  WHERE user_id NOT IN (SELECT user_id FROM b0))
      |SELECT 'tx0' AS snapshot, count(*) AS n_users,
      |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents_sum,
      |       $hashSum AS hash_sum
      |FROM b0
      |UNION ALL
      |SELECT 'tx1', count(*), CAST(coalesce(sum(cents), 0) AS BIGINT),
      |       $hashSum
      |FROM b1
      |UNION ALL
      |SELECT 'restated', count(*), CAST(coalesce(sum(cents), 0) AS BIGINT),
      |       $hashSum
      |FROM ch
      |UNION ALL
      |SELECT 'late_added', count(*), CAST(coalesce(sum(cents), 0) AS BIGINT),
      |       $hashSum
      |FROM ad""".stripMargin
  }

  private val dvBuilt = graft.Scratch.fixture[String]("graft_tlog", "orders_dv")

  /** versioned table exercising the DV lifecycle: v0 = full orders append,
    * v1 = DV delete of finished orders with key ≡ 0,1,2 (mod 10), v2 = a
    * SECOND, overlapping DV delete of every urgent order (some urgent rows
    * are already dead in v1 — the merge must not double-count them). Both
    * predicates are pure functions of the row, so the oracle replays the
    * surviving set without ever seeing the log.
    */
  private[graft] def ordersDvDeleted(s: SparkSession, dir: String): String =
    dvBuilt(dir) { root =>
      val table = root + "/orders_dv"
      commitAppend(Tables.load(s, dir, "orders"), table)
      deleteWhere(s, table, "o_orderstatus = 'F' AND o_orderkey % 10 < 3")
      deleteWhere(s, table, "o_orderpriority = '1-URGENT'")
      table
    }

  /** Merge-on-read accounting over [[ordersDvDeleted]]: the per-status
    * survivor counts and exact cents totals after two overlapping DV
    * deletes, read through [[read]]'s anti-join path — a resurrected,
    * double-deleted, or position-shifted row flips a sum.
    */
  def dvDeleteRead(s: SparkSession, dir: String): DataFrame = {
    val t = ordersDvDeleted(s, dir)
    read(s, t)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_live"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
  }

  private val dvDeleteReadSql =
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n_live,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)
      |  AND NOT (o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  private val cloneQBuilt =
    graft.Scratch.fixture[(String, String)]("graft_tlog", "clone_src", "clone_dev")

  /** Shallow-clone divergence, hash-gated end to end: an orders-derived
    * table takes a DV delete, is CLONED (zero-copy hard links), and the two
    * histories then diverge — a further delete lands only in the clone, a
    * further append only in the source. One relation emits BOTH sides'
    * accounting; the oracle replays each lineage relationally. A clone that
    * missed the DV carry, leaked a post-clone write across tables, or
    * re-read a vacuumed-in-one-side file flips a side's sums.
    */
  def cloneDivergence(s: SparkSession, dir: String): DataFrame = {
    val (src, dev) = cloneQBuilt(dir) { root =>
      val (srcT, devT) = (root + "/clone_src", root + "/clone_dev")
      val base = Tables.load(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      commitAppend(base.repartitionByRange(4, col("k")), srcT)   // src v0
      deleteWhere(s, srcT, "k % 7 = 0")                          // src v1 (DV)
      cloneTable(srcT, devT)                                     // dev v0 == src v1
      deleteWhere(s, devT, "status = 'F'")                       // dev diverges
      commitAppend(                                              // src diverges
        Tables.load(s, dir, "orders").where(col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + 3000000L).as("k"),
            lit("Z").as("status"), lit(1L).as("cents")), srcT)
      (srcT, devT)
    }
    read(s, src).withColumn("side", lit("src"))
      .unionByName(read(s, dev).withColumn("side", lit("dev")))
      .groupBy(col("side"), col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
  }

  private val cloneDivergenceSql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS status,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |srcx AS (
      |  SELECT * FROM base
      |  UNION ALL
      |  SELECT o_orderkey + 3000000 AS k, 'Z' AS status, CAST(1 AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |devx AS (SELECT * FROM base WHERE status <> 'F'),
      |both_sides AS (
      |  SELECT 'src' AS side, status, cents FROM srcx
      |  UNION ALL
      |  SELECT 'dev' AS side, status, cents FROM devx)
      |SELECT side, status, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS cents
      |FROM both_sides GROUP BY side, status""".stripMargin

  private val retrofitBuilt = graft.Scratch.fixture[String]("graft_tlog", "orders_retrofit")

  /** Footer-only ANALYZE retrofit, hash-gated for SOUNDNESS: a
    * range-clustered table committed WITHOUT a stats index gets its sidecar
    * built post-hoc from parquet footers ([[buildStatsIndex]] — no scan),
    * then a banded read goes through [[readPruned]]'s file skipping. The
    * oracle replays the band from the raw table — a wrong footer range (a
    * false skip) silently DROPS rows, which is exactly what the hash gate
    * catches; the spec twin pins that files actually skip.
    */
  def statsRetrofitRead(s: SparkSession, dir: String): DataFrame = {
    val t = retrofitBuilt(dir) { root =>
      val table = root + "/orders_retrofit"
      commitAppend(
        Tables.load(s, dir, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
          .repartitionByRange(8, col("k")), table)   // NO statCols: the retrofit case
      val n = buildStatsIndex(table, Seq("k"))
      require(n > 0, s"footer ANALYZE recorded nothing for $table")
      table
    }
    readPruned(s, t, "k", Some(1000L), Some(5000L))
      .where(col("k") >= 1000L && col("k") <= 5000L)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
  }

  private val statsRetrofitReadSql =
    """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
      |GROUP BY 1""".stripMargin

  private val strPrunedBuilt = graft.Scratch.fixture[String]("graft_tlog", "orders_strstats")

  /** STRING-stats pruned read, hash-gated for SOUNDNESS: orders committed
    * range-clustered on (priority, key) with a per-file STRING stats index
    * on the priority column, then a banded read goes through
    * [[readPruned]]'s file skipping (bounds compare as unsigned UTF-8
    * bytes — the collation the sidecar, Spark, and parquet share). A wrong
    * string range silently DROPS rows — exactly what the hash gate
    * catches; TableLogSpec's twin pins that files actually skip.
    */
  def statsStringPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val t = strPrunedBuilt(dir) { root =>
      val table = root + "/orders_strstats"
      commitAppend(
        Tables.load(s, dir, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderpriority").as("pri"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
          .repartitionByRange(8, col("pri"), col("k")),
        table, statCols = Seq("pri"))
      table
    }
    readPruned(s, t, "pri", Some(Stats.Utf8("2-HIGH")), Some(Stats.Utf8("3-MEDIUM")))
      .where(col("pri") >= "2-HIGH" && col("pri") <= "3-MEDIUM")
      .groupBy(col("pri"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
  }

  private val statsStringPrunedReadSql =
    """SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |WHERE o_orderpriority BETWEEN '2-HIGH' AND '3-MEDIUM'
      |GROUP BY 1""".stripMargin

  private val clusteredCatBuilt = graft.Scratch.fixture[String]("graft_tlog", "orders_clustered")

  /** Clustered INSERT through the SQL catalog: CREATE TABLE with the
    * `graft.clusterBy` property, INSERT INTO from the source relation —
    * the append range-partitions + sorts on the cluster columns and
    * records their per-file stats ([[clusterForWrite]]), so the string
    * predicate that follows skips files from the FIRST insert, zero
    * maintenance runs. Returns the catalog root (table name
    * `orders_clustered`); the query result is hash-gated against the
    * relational replay.
    */
  private[graft] def ordersClustered(s: SparkSession, dir: String): String =
    clusteredCatBuilt(dir) { rt =>
      s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", rt)
      Tables.load(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        col("o_orderpriority").as("pri"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView("orders_clus_src")
      s.sql("CREATE TABLE graft.orders_clustered (k BIGINT, pri STRING, cents BIGINT) " +
        "TBLPROPERTIES ('graft.clusterBy'='pri,k', 'graft.clusterBy.files'='8')")
      s.sql("INSERT INTO graft.orders_clustered SELECT k, pri, cents FROM orders_clus_src")
      rt
    }

  def catalogClusteredInsert(s: SparkSession, dir: String): DataFrame = {
    val root = ordersClustered(s, dir)
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    s.sql(
      """SELECT pri, count(*) AS n_rows, sum(cents) AS cents,
        |       min(k) AS k_lo, max(k) AS k_hi
        |FROM graft.orders_clustered
        |WHERE pri <= '2-HIGH'
        |GROUP BY pri""".stripMargin)
  }

  private val catalogClusteredInsertSql =
    """SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |       CAST(min(o_orderkey) AS BIGINT) AS k_lo,
      |       CAST(max(o_orderkey) AS BIGINT) AS k_hi
      |FROM orders WHERE o_orderpriority <= '2-HIGH'
      |GROUP BY 1""".stripMargin

  private val bucketedJoinBuilt =
    graft.Scratch.fixture[String]("graft_tlog", "orders_bkt", "customer_bkt")

  /** Storage-partitioned-join fixture: orders and customer both written
    * through the catalog as `graft.bucketBy` tables on the customer key
    * (8 buckets), plus a DV DELETE on the fact side — the layout the
    * zero-shuffle join law (CatalogSpec) runs on. Built once per dir.
    */
  private[graft] def bucketedTables(s: SparkSession, dir: String): String =
    bucketedJoinBuilt(dir) { rt =>
      s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", rt)
      Tables.load(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        col("o_custkey").as("ck"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView("orders_bkt_src")
      Tables.load(s, dir, "customer").select(
        col("c_custkey").as("ck"),
        col("c_mktsegment").as("seg"))
        .createOrReplaceTempView("customer_bkt_src")
      s.sql("CREATE TABLE graft.orders_bkt (k BIGINT, ck BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('graft.bucketBy'='ck', 'graft.bucketBy.n'='8')")
      s.sql("CREATE TABLE graft.customer_bkt (ck BIGINT, seg STRING) " +
        "TBLPROPERTIES ('graft.bucketBy'='ck', 'graft.bucketBy.n'='8')")
      s.sql("INSERT INTO graft.orders_bkt SELECT k, ck, cents FROM orders_bkt_src")
      s.sql("INSERT INTO graft.customer_bkt SELECT ck, seg FROM customer_bkt_src")
      // a DV delete on the bucketed fact: deletes never move surviving
      // rows between buckets, so the join below still runs shuffle-free
      s.sql("DELETE FROM graft.orders_bkt WHERE cents >= 40000000")
      rt
    }

  /** Co-bucketed catalog join, hash-gated: both sides wrote through the
    * `graft.bucketBy` layout (bucket-pure files + per-file bucket sidecar)
    * and the scan reports `KeyGroupedPartitioning(bucket(8, ck))`, so with
    * `spark.sql.sources.v2.bucketing.enabled` the equi-join on `ck` plans
    * with ZERO shuffle (CatalogSpec pins the plan law; this row gates the
    * DATA: a bucket-impure file or a dropped/duplicated bucket partition
    * changes the join result). The oracle replays the whole pipeline
    * relationally, DV delete included.
    */
  def catalogBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val rt = bucketedTables(s, dir)
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rt)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.sql(
      """SELECT c.seg, count(*) AS n_rows, sum(o.cents) AS cents
        |FROM graft.orders_bkt o JOIN graft.customer_bkt c ON o.ck = c.ck
        |GROUP BY c.seg""".stripMargin)
  }

  private val catalogBucketedJoinSql =
    """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE floor(o_totalprice * 100) < 40000000
      |GROUP BY 1""".stripMargin

  /** Ungrouped min/max over a STRING column answered from METADATA alone —
    * [[statBounds]] under full per-file coverage (the clustered insert
    * recorded stats for every data file; CREATE TABLE's zero-row v0 file
    * is coverage-exempt) and zero DVs. One row mixing count(*), string
    * extremes, and long extremes — all metadata; hash-gated vs the raw
    * relation.
    */
  def metadataMinMaxStrQ(s: SparkSession, dir: String): DataFrame = {
    val root = ordersClustered(s, dir)
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    s.sql(
      """SELECT count(*) AS n, min(pri) AS pri_lo, max(pri) AS pri_hi,
        |       min(k) AS k_lo, max(k) AS k_hi
        |FROM graft.orders_clustered""".stripMargin)
  }

  private val metadataMinMaxStrSql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |       min(o_orderpriority) AS pri_lo, max(o_orderpriority) AS pri_hi,
      |       CAST(min(o_orderkey) AS BIGINT) AS k_lo,
      |       CAST(max(o_orderkey) AS BIGINT) AS k_hi
      |FROM orders""".stripMargin

  private val bloomQBuilt = graft.Scratch.fixture[String]("graft_tlog", "orders_bloom")

  /** orders committed HASH-clustered on o_custkey (8 files) with a Bloom
    * index built on that column — the layout where min/max stats are
    * useless (every file spans the full key range) and only a Bloom skips.
    */
  private[graft] def ordersBloomed(s: SparkSession, dir: String): String =
    bloomQBuilt(dir) { root =>
      val table = root + "/orders_bloom"
      commitAppend(
        Tables.load(s, dir, "orders").repartition(8, col("o_custkey")), table)
      buildBloomIndex(s, table, "o_custkey")
      table
    }

  /** Bloom point lookups over [[ordersBloomed]]: five data-derived probe
    * keys (max custkey and its integer fractions — some may not exist,
    * which is exactly the lookup a Bloom answers cheapest), each read
    * through [[readPointLookup]]'s pruned scan and reduced to exact
    * accounting. A false-negative prune (a skipped file that held the key)
    * flips a sum; the oracle replays every probe from the raw table. The
    * companion spec pins that the pruning actually SKIPS files.
    */
  def bloomPointLookup(s: SparkSession, dir: String): DataFrame = {
    val t = ordersBloomed(s, dir)
    val maxk = Tables.load(s, dir, "orders")
      .agg(max(col("o_custkey"))).collect()(0).getLong(0)
    Seq(1L, 2L, 3L, 5L, 7L).map { f =>
      val k = maxk / f
      readPointLookup(s, t, "o_custkey", k.toString)
        .where(col("o_custkey") === k)
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_orderkey")), lit(0L)).as("key_sum"),
          coalesce(sum(floor(col("o_totalprice") * 100).cast("long")), lit(0L))
            .as("cents"))
        .select(lit(f).as("frac"), col("n_orders"), col("key_sum"), col("cents"))
    }.reduce(_.unionAll(_))
  }

  private val bloomPointLookupSql =
    """WITH m AS (SELECT max(o_custkey) AS mk FROM orders),
      |p AS (SELECT 1 AS frac, mk AS probe FROM m
      |      UNION ALL SELECT 2, mk // 2 FROM m
      |      UNION ALL SELECT 3, mk // 3 FROM m
      |      UNION ALL SELECT 5, mk // 5 FROM m
      |      UNION ALL SELECT 7, mk // 7 FROM m)
      |SELECT CAST(frac AS BIGINT) AS frac,
      |       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
      |       CAST(coalesce(sum(o.o_orderkey), 0) AS BIGINT) AS key_sum,
      |       CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
      |FROM p LEFT JOIN orders o ON o.o_custkey = p.probe
      |GROUP BY frac""".stripMargin

  // -------------------------------------------------------------------------
  // Change data feed — version-range incremental reads
  // -------------------------------------------------------------------------

  /** rows of `files` (relative paths) with the positions in `dvs` removed —
    * the building block [[changeFeed]] uses to materialize what a version
    * made visible or took away. Empty `files` → None.
    */
  private def rowsOf(
      spark: SparkSession, table: String,
      files: Seq[String], dvs: Seq[String]): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val base = spark.read.option("mergeSchema", true)
        .parquet(files.map(f => Paths.get(table).resolve(f).toString): _*)
      if (dvs.isEmpty) Some(base)
      else {
        val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        val (fc, pc, dvf, dvp) =
          (s"_cdf_f_$tag", s"_cdf_p_$tag", s"_cdf_dvf_$tag", s"_cdf_dvp_$tag")
        val dv = spark.read.parquet(
            dvs.map(f => Paths.get(table).resolve(f).toString): _*)
          .select(col("f").as(dvf), col("p").as(dvp))
        Some(base
          .withColumn(fc, concat(lit("data/"),
            element_at(split(col("_metadata.file_path"), "/"), -1)))
          .withColumn(pc, col("_metadata.row_index"))
          .join(dv, col(fc) === col(dvf) && col(pc) === col(dvp), "left_anti")
          .drop(fc, pc))
      }
    }

  /** rows of `files` AT the (file, position) pairs listed in `dvPositions`
    * parquet — used to materialize DV-delta deletes as full rows
    */
  private def rowsAt(
      spark: SparkSession, table: String,
      files: Seq[String], dvPositions: DataFrame): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val (fc, pc, dvf, dvp) =
        (s"_cdf_f_$tag", s"_cdf_p_$tag", s"_cdf_dvf_$tag", s"_cdf_dvp_$tag")
      val dv = dvPositions.select(col("f").as(dvf), col("p").as(dvp))
      Some(spark.read.option("mergeSchema", true)
        .parquet(files.map(f => Paths.get(table).resolve(f).toString): _*)
        .withColumn(fc, concat(lit("data/"),
          element_at(split(col("_metadata.file_path"), "/"), -1)))
        .withColumn(pc, col("_metadata.row_index"))
        .join(dv, col(fc) === col(dvf) && col(pc) === col(dvp), "left_semi")
        .drop(fc, pc))
    }

  /** CHANGE DATA FEED: every row change in `(fromV, toV]` as full payload
    * rows plus `_change_type` ('insert' | 'delete') and `_commit_version` —
    * the Delta/Iceberg incremental-consumption read that lets a downstream
    * job process exactly what a commit range changed without any key
    * knowledge. Per version step, derived purely from the manifests:
    *
    *  - files ADDED by v      → their v-visible rows as inserts
    *  - files REMOVED by v    → their (v−1)-visible rows as deletes
    *  - DV positions ADDED on persisting files → those rows as deletes
    *
    * A pure compaction (optimize) therefore emits rewrite churn — equal
    * insert and delete multisets that NET to zero, which the spec pins.
    *
    * 100 TB shape: each step scans ONLY the files that commit touched plus
    * metadata-sized DV deltas — cost scales with the change range, never
    * the table (the whole point of a CDF over re-diffing snapshots).
    */
  /** manifest diff of ONE version step — the metadata [[changeFeed]] and the
    * streaming [[TableChangeSource]] both consume: which files v added and
    * removed, which persist, and each side's DV sidecars. Pure manifest
    * reads, so cost scales with the commit's touched-file COUNT.
    */
  private[sources] final case class StepDiff(
      v: Long, added: Seq[String], removed: Seq[String],
      persisting: Seq[String], prevDv: Seq[String], curDv: Seq[String])

  private[sources] def stepDiff(table: String, v: Long, vs: Seq[Long]): StepDiff = {
    val prev = if (v == vs.head) Manifest(Nil, Nil, Nil) else manifest(table, v - 1)
    val cur = manifest(table, v)
    StepDiff(v,
      added = cur.files.filterNot(prev.files.toSet),
      removed = prev.files.filterNot(cur.files.toSet),
      persisting = (prev.files.toSet & cur.files.toSet).toSeq,
      prevDv = prev.dvs, curDv = cur.dvs)
  }

  /** DV positions newly dead at this step on PERSISTING files (alive at
    * v−1, dead at v), as a (f, p) DataFrame — metadata-sized by the DV
    * design (positions, never payload rows).
    */
  private[sources] def dvDelta(
      spark: SparkSession, table: String, d: StepDiff): Option[DataFrame] =
    if (d.curDv.isEmpty || d.persisting.isEmpty) None
    else {
      val curP = spark.read.parquet(
        d.curDv.map(f => Paths.get(table).resolve(f).toString): _*)
      val delta =
        if (d.prevDv.isEmpty) curP
        else curP.except(spark.read.parquet(
          d.prevDv.map(f => Paths.get(table).resolve(f).toString): _*))
      Some(delta.where(col("f").isin(d.persisting: _*)))
    }

  def changeFeed(
      spark: SparkSession, table: String, fromV: Long, toV: Long): DataFrame = {
    val vs = versions(table)
    require(vs.contains(toV) && (fromV == -1L || vs.contains(fromV)) && fromV < toV,
      s"bad change range ($fromV, $toV] for versions ${vs.mkString(",")}")
    val steps = vs.filter(v => v > fromV && v <= toV)
    val parts = steps.flatMap { v =>
      val d = stepDiff(table, v, vs)
      def tagged(df: DataFrame, t: String): DataFrame =
        df.withColumn("_change_type", lit(t))
          .withColumn("_commit_version", lit(v))
      val inserts = rowsOf(spark, table, d.added, d.curDv).map(tagged(_, "insert"))
      val deletes = rowsOf(spark, table, d.removed, d.prevDv).map(tagged(_, "delete"))
      // DV delta on persisting files: positions dead at v, alive at v-1
      val dvDeletes = dvDelta(spark, table, d)
        .flatMap(rowsAt(spark, table, d.persisting, _))
        .map(tagged(_, "delete"))
      Seq(inserts, deletes, dvDeletes).flatten
    }
    require(parts.nonEmpty, s"empty change feed over ($fromV, $toV]")
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** ROW-LEVEL change data feed: [[changeFeed]] with update semantics
    * recovered from rewrite commits. The plain feed derives changes from
    * manifest diffs alone, so a selective SQL `UPDATE`/`MERGE` (whose
    * row-level rewrite is FILE-granular) over-reports — every surviving row
    * of a rewritten file re-emits as delete+insert. Given the table's
    * primary key, this feed nets that churn out per commit (Delta CDF's
    * `update_preimage`/`update_postimage` semantics):
    *
    *  - key in removed and added files, payload IDENTICAL → no change
    *    emitted (the row merely rode along in the rewritten file);
    *  - key in both, payload differs → `update_preimage` (old row) +
    *    `update_postimage` (new row);
    *  - key only in removed → `delete`; only in added → `insert`;
    *  - DV-delta deletes on persisting files stay `delete` (a DV never
    *    rewrites rows, so there is nothing to net).
    *
    * So an UPDATE touching k rows emits O(k) update rows, never O(file) —
    * while signed folds stay correct (postimage +1 / preimage −1 cancel
    * exactly like the insert+delete pair they replace, minus the
    * zero-sum churn).
    *
    * The key must be UNIQUE among each commit's rewritten rows — enforced
    * IN the plan via a lazy per-side key count (`raise_error`), so a
    * violated assumption fails loudly at execution instead of silently
    * multiplying rows through the join. Null keys never match (standard
    * join semantics): a null-keyed rewritten row surfaces as
    * delete+insert, the conservative reading.
    *
    * 100 TB shape: per step, one shuffle of ONLY the rewritten files' rows
    * on the key (both join sides arrive key-partitioned, and the pre-join
    * uniqueness windows reuse that partitioning); commits that only add or
    * only remove files skip the join entirely.
    */
  def changeFeedCdc(
      spark: SparkSession, table: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "changeFeedCdc needs at least one key column")
    val vs = versions(table)
    require(vs.contains(toV) && (fromV == -1L || vs.contains(fromV)) && fromV < toV,
      s"bad change range ($fromV, $toV] for versions ${vs.mkString(",")}")
    val steps = vs.filter(v => v > fromV && v <= toV)
    val parts = steps.flatMap { v =>
      val d = stepDiff(table, v, vs)
      def tagged(df: DataFrame, t: String): DataFrame =
        df.withColumn("_change_type", lit(t))
          .withColumn("_commit_version", lit(v))
      val inserts = rowsOf(spark, table, d.added, d.curDv)
      val deletes = rowsOf(spark, table, d.removed, d.prevDv)
      val dvDeletes = dvDelta(spark, table, d)
        .flatMap(rowsAt(spark, table, d.persisting, _))
        .map(tagged(_, "delete"))
      val netted = (inserts, deletes) match {
        case (Some(post), Some(pre)) =>
          Seq(nettedStep(spark, table, v, pre, post, keyCols))
        case _ =>
          Seq(inserts.map(tagged(_, "insert")), deletes.map(tagged(_, "delete"))).flatten
      }
      netted ++ dvDeletes
    }
    require(parts.nonEmpty, s"empty change feed over ($fromV, $toV]")
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** one rewrite commit's removed⋈added rows joined on the key: unchanged
    * rows vanish, changed rows emit the update pair, the rest stay
    * insert/delete — a single full-outer join and ONE pass (the 0/1/2
    * output rows per key come from one exploded array, never a re-scan)
    */
  private def nettedStep(
      spark: SparkSession, table: String, v: Long,
      pre: DataFrame, post: DataFrame, keyCols: Seq[String]): DataFrame = {
    val outCols = post.columns.toSeq
    keyCols.foreach(c => require(outCols.contains(c),
      s"key column '$c' absent from table columns ${outCols.mkString(",")}"))
    val dataCols = outCols.filterNot(keyCols.contains)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    // schema evolution: the pre side (older files) may lack columns the post
    // side carries — null-backfill them so both row structs share one type
    def side(df: DataFrame, tag: String): DataFrame = {
      val have = df.columns.toSet
      val rowS = struct(outCols.map(c =>
        if (have(c)) col(c).as(c)
        else lit(null).cast(post.schema(c).dataType).as(c)): _*)
      df.select(
        (rowS.as(s"_row_$tag") +: count(lit(1)).over(w).as(s"_kc_$tag") +:
          keyCols.map(c => col(c).as(s"_k_${tag}_$c"))): _*)
    }
    val p = side(pre, "pre")
    val q = side(post, "post")
    val cond = keyCols.map(c =>
      col(s"_k_pre_$c") === col(s"_k_post_$c")).reduce(_ && _)
    // the per-side key counts ride the same key shuffle the join needs;
    // assert_true makes a violated uniqueness assumption throw AT EXECUTION
    // (lazily, distributed) instead of silently multiplying join rows
    val dupGuard = assert_true(
      coalesce(col("_kc_pre"), lit(1L)) <= 1 && coalesce(col("_kc_post"), lit(1L)) <= 1,
      lit(s"changeFeedCdc: duplicate key among version $v's rewritten rows — " +
        s"key (${keyCols.mkString(",")}) must be unique per commit"))
    val samePayload: org.apache.spark.sql.Column =
      if (dataCols.isEmpty) lit(true) // key-only table: a matched row is unchanged
      else struct(dataCols.map(c => col("_row_pre").getField(c)): _*) <=>
        struct(dataCols.map(c => col("_row_post").getField(c)): _*)
    val emit =
      when(col("_row_pre").isNull,
        array(struct(lit("insert").as("_ct"), col("_row_post").as("_r"))))
        .when(col("_row_post").isNull,
          array(struct(lit("delete").as("_ct"), col("_row_pre").as("_r"))))
        .when(samePayload, array())
        .otherwise(array(
          struct(lit("update_preimage").as("_ct"), col("_row_pre").as("_r")),
          struct(lit("update_postimage").as("_ct"), col("_row_post").as("_r"))))
    val emitted = p.join(q, cond, "full_outer")
      // dupGuard evaluates on EVERY row (null when the assertion holds)
      .select(explode(when(dupGuard.isNull, emit)).as("_e"))
    emitted.select(
      outCols.map(c => col("_e._r").getField(c).as(c)) :+
        col("_e._ct").as("_change_type") :+
        lit(v).as("_commit_version"): _*)
  }

  /** Change-feed accounting over [[ordersDvDeleted]]'s full history
    * (−1, latest]: per (commit version, change type) the row count and
    * exact cents — v0 inserts everything, v1 DV-deletes finished keys
    * ≡0,1,2 (mod 10), v2 DV-deletes the REMAINING urgent rows (overlap must
    * not re-emit). The oracle replays all three predicates from the raw
    * table; any phantom insert, lost delete, or double-emitted overlap row
    * flips a sum.
    */
  def changeFeedQ(s: SparkSession, dir: String): DataFrame = {
    val t = ordersDvDeleted(s, dir)
    changeFeed(s, t, -1L, versions(t).last)
      .groupBy(col("_commit_version").as("v"), col("_change_type").as("change"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
  }

  private val cdcBuilt = graft.Scratch.fixture[String]("graft_cdc", "orders_cdc")

  /** scratch log table (orders keyed by o_orderkey with exact cents), then
    * one selective SQL `UPDATE` through the catalog — the file-granular
    * row-level rewrite whose churn [[changeFeedCdc]] must net out
    */
  private[graft] def ordersCdcUpdated(s: SparkSession, dir: String): String =
    cdcBuilt(dir) { root =>
      val table = root + "/orders_cdc"
      commitAppend(
        Tables.load(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")), table) // v0
      // Spark caches catalog INSTANCES by name: a fixed name plus a second
      // data dir in one JVM would keep the FIRST root and land the UPDATE on
      // the wrong scratch table — derive the name from the root instead.
      val cat = "graftcdc_" + Integer.toHexString(root.hashCode).replace('-', 'n')
      s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(
        s"""UPDATE $cat.orders_cdc SET cents = cents + 7
           |WHERE o_orderkey % 100 = 3""".stripMargin)                       // v1
      table
    }

  /** Row-level CDC accounting over [[ordersCdcUpdated]]: per change type
    * the row count, exact cents, and key sum across the UPDATE commit.
    * The rewrite is file-granular, so the PLAIN feed would re-emit every
    * surviving row of the touched files as delete+insert; the oracle
    * admits ONLY the k touched rows as an update pre/post pair — any
    * un-netted churn row, lost update, or mis-paired image flips a sum.
    */
  def changeFeedUpdatesQ(s: SparkSession, dir: String): DataFrame = {
    val t = ordersCdcUpdated(s, dir)
    changeFeedCdc(s, t, 0L, versions(t).last, Seq("o_orderkey"))
      .groupBy(col("_change_type").as("change"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("cents")).as("cents"),
        sum(col("o_orderkey")).as("keysum"))
  }

  private val changeFeedUpdatesSql =
    """SELECT 'update_preimage' AS change, count(*) AS n_rows,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |       CAST(sum(o_orderkey) AS BIGINT) AS keysum
      |FROM orders WHERE o_orderkey % 100 = 3
      |UNION ALL
      |SELECT 'update_postimage', count(*),
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT) + 7) AS BIGINT),
      |       CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 100 = 3""".stripMargin

  private val changeFeedSql =
    """SELECT CAST(0 AS BIGINT) AS v, 'insert' AS change,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |UNION ALL
      |SELECT 1, 'delete', count(*),
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 < 3
      |UNION ALL
      |SELECT 2, 'delete', count(*),
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |  AND NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)""".stripMargin

  /** Incremental change-feed consumer with a DURABLE CURSOR: each call
    * processes the unseen `(cursor, head]` range through `f`, then advances
    * the cursor via temp-file + atomic move (the manifest publish
    * discipline) — a crash between process and advance redelivers exactly
    * that range on the next call (at-least-once), which an idempotent `f`
    * ([[commitOnceOverwrite]] with the range as txn id, or dynamic
    * partition overwrite) upgrades to exactly-once. The polling twin of a
    * streaming source over the log: per call it reads only the new
    * commits' touched files. Returns the processed (from, to] or None when
    * caught up.
    *
    * RETENTION: if [[vacuum]] has dropped the cursor's version the precise
    * change range is unrecoverable — the follower fails with a dedicated
    * [[RetentionExceeded]] (never a generic require wedging it forever);
    * with `restartOnRetentionExceeded=true` it instead restarts from −1,
    * re-delivering the earliest retained snapshot as inserts (Delta CDF's
    * `startingVersion` recovery — correct for the idempotent / fold-style
    * consumers this feed targets, who must tolerate the re-delivery).
    */
  final class RetentionExceeded(val table: String, val cursor: Long, val earliest: Long)
    extends IllegalStateException(
      s"change-feed cursor $cursor of $table predates the earliest retained " +
        s"version $earliest (vacuumed); pass restartOnRetentionExceeded=true " +
        "to restart from the full snapshot")

  def followChanges(
      spark: SparkSession, table: String, cursorFile: String,
      restartOnRetentionExceeded: Boolean = false)(
      f: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] =
    followWith(spark, table, cursorFile, restartOnRetentionExceeded,
      changeFeed(spark, table, _, _))(f)

  /** [[followChanges]] with ROW-LEVEL update semantics: the delivered frame
    * is [[changeFeedCdc]] over the unseen range, so a polling consumer sees
    * `update_preimage`/`update_postimage` pairs instead of file-rewrite
    * churn — the durable-cursor twin of a Delta CDF reader. Same cursor
    * discipline, retention behavior and exactly-once contract.
    */
  def followChangesCdc(
      spark: SparkSession, table: String, cursorFile: String,
      keyCols: Seq[String],
      restartOnRetentionExceeded: Boolean = false)(
      f: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] =
    followWith(spark, table, cursorFile, restartOnRetentionExceeded,
      changeFeedCdc(spark, table, _, _, keyCols))(f)

  /** CONTINUOUS row-level CDC: drive [[followChangesCdc]] off the
    * change-feed stream — `f` receives each commit range's netted update
    * images within one trigger of the commit. The maintainStream
    * discipline (see [[MatView.maintainStream]]): the micro-batch CONTENT
    * is deliberately unused — the stream is the TRIGGER, the durable
    * cursor is the TRUTH — so crash/replay/restart all reduce to the
    * cursor's exactly-once contract with no second offset store to
    * reconcile. The source read is pruned to the key columns alone (the
    * netting re-read inside followChangesCdc fetches full payloads only
    * for the touched ranges).
    */
  def cdcStream(
      spark: SparkSession, table: String, cursorFile: String,
      keyCols: Seq[String], checkpointDir: String,
      versionsPerTrigger: Int = 1)(
      f: (DataFrame, Long, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    require(keyCols.nonEmpty, "cdcStream needs at least one key column")
    spark.readStream
      .format("graft.sources.TableChangeSource")
      .option("table", table)
      .option("columns", keyCols.mkString(","))
      .option("versionsPerTrigger", versionsPerTrigger.toString)
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        followChangesCdc(spark, table, cursorFile, keyCols)(f)
        ()
      }
      .start()
  }

  private def followWith(
      spark: SparkSession, table: String, cursorFile: String,
      restartOnRetentionExceeded: Boolean,
      feed: (Long, Long) => DataFrame)(
      f: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val cp = Paths.get(cursorFile)
    val cursor = LogText.lines(cp).headOption.fold(-1L)(_.trim.toLong)
    val vs = versions(table)
    val head = vs.lastOption.getOrElse(-1L)
    // cursor AHEAD of the head is a lineage break (log truncated or
    // recreated at the same path, or a wrong cursor file) — same class as
    // retention loss. Fail loud (or restart under the flag), never report
    // caught-up: that wedges the follower with no diagnosis.
    val last =
      if (cursor == -1L || (cursor <= head && vs.contains(cursor))) cursor
      else if (restartOnRetentionExceeded) -1L
      else throw new RetentionExceeded(table, cursor, vs.headOption.getOrElse(-1L))
    if (head <= last) None
    else {
      f(feed(last, head), last, head)
      LogText.replace(cp, Seq(head.toString))
      Some((last, head))
    }
  }

  /** Downstream aggregate maintained PURELY from the change feed — the
    * consumption pattern [[changeFeed]] exists for: fold (+row on insert,
    * −row on delete) into per-status accounting without ever scanning a
    * snapshot, and require it to equal the direct aggregate of the latest
    * state (the oracle computes the direct form). Statuses whose rows all
    * died net to zero and drop, matching the direct aggregate's groups.
    */
  def cdfMaintainedAgg(s: SparkSession, dir: String): DataFrame = {
    val t = ordersDvDeleted(s, dir)
    changeFeed(s, t, -1L, versions(t).last)
      .withColumn("sgn",
        when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(col("sgn")).as("n_live"),
        sum(col("sgn") * floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      .where(col("n_live") > 0)
  }

  private val cdfMaintainedAggSql =
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n_live,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)
      |  AND NOT (o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  private val streamAggBuilt =
    graft.Scratch.fixture[Seq[(String, Long, Long)]]("graft_cdfstream", "ckpt")

  /** [[cdfMaintainedAgg]]'s STREAMING twin: the same signed per-status fold,
    * but consumed through the DSv2 [[TableChangeSource]] — one real
    * `readStream` micro-batch per commit (`versionsPerTrigger=1`), each
    * batch reduced to mergeable partials and folded across batches. The
    * result must equal the direct aggregate of the final state (the oracle
    * computes that form), which gates the whole stack end to end: offset
    * admission, per-file partition planning, the Group-API pruned reads,
    * DV-delta deletes, and batch-boundary-invariant folding. Memoized per
    * dir (the stream consumes the full history once per JVM).
    */
  def cdfStreamAgg(s: SparkSession, dir: String): DataFrame = {
    val parts = streamAggBuilt(dir) { root =>
      val t = ordersDvDeleted(s, dir)
      val ckpt = root + "/ckpt"
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
      val q = s.readStream.format("graft.sources.TableChangeSource")
        .option("table", t).option("versionsPerTrigger", "1")
        // project at the file read: streaming scans get no pruning pushdown
        .option("columns", "o_orderstatus,o_totalprice").load()
        .select(col("o_orderstatus"), col("o_totalprice"), col("_change_type"))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.withColumn("sgn",
              when(col("_change_type") === "insert", 1L).otherwise(-1L))
            .groupBy("o_orderstatus")
            .agg(sum(col("sgn")).as("dn"),
              sum(col("sgn") * floor(col("o_totalprice") * 100).cast("long")).as("dc"))
            .collect()
            .foreach(r => acc.add((r.getString(0), r.getLong(1), r.getLong(2))))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      acc.asScala.toSeq
    }
    import s.implicits._
    parts.toDF("o_orderstatus", "dn", "dc")
      .groupBy("o_orderstatus")
      .agg(sum(col("dn")).as("n_live"), sum(col("dc")).as("cents"))
      .where(col("n_live") > 0)
  }

  /** Metadata-only accounting over [[ordersDvDeleted]]: the v0 and latest
    * live-row counts read from the row-count sidecar alone — no data file
    * is scanned — compared by the oracle against a real count of the raw
    * table through the two DV delete predicates. Wrong per-file counts, a
    * missed DV subtraction, or double-counted overlap all flip a number.
    */
  def metadataCountQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = ordersDvDeleted(s, dir)
    val vs = versions(t)
    val n0 = metadataCount(t, Some(vs.head))
      .getOrElse(sys.error("v0 must have recorded counts"))
    val nl = metadataCount(t)
      .getOrElse(sys.error("latest must have recorded counts"))
    Seq(("v0", n0), ("latest", nl)).toDF("snapshot", "n_live")
  }

  private val metadataCountSql =
    """SELECT 'v0' AS snapshot, count(*) AS n_live FROM orders
      |UNION ALL
      |SELECT 'latest', count(*) FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)
      |  AND NOT (o_orderpriority = '1-URGENT')""".stripMargin

  /** The SQL face of the log ([[GraftCatalog]]): register the catalog over
    * [[ordersDvDeleted]]'s scratch root and answer the same merge-on-read
    * accounting as [[dvDeleteRead]] PLUS the pushed metadata `count(*)` and
    * a `VERSION AS OF 0` time-travel count — one statement per catalog
    * capability, all as plain `spark.sql` text, so the whole
    * SQL-resolution → DSv2-scan → DV-subtraction path is hash-gated.
    */
  def catalogSqlRead(s: SparkSession, dir: String): DataFrame = {
    val t = ordersDvDeleted(s, dir)
    val root = t.substring(0, t.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    s.sql(
      """SELECT o_orderstatus AS grp, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 100) AS LONG)) AS cents
        |FROM graft.orders_dv GROUP BY o_orderstatus
        |UNION ALL
        |SELECT '_total', count(*), CAST(0 AS LONG) FROM graft.orders_dv
        |UNION ALL
        |SELECT '_v0', count(*), CAST(0 AS LONG) FROM graft.orders_dv VERSION AS OF 0
        |""".stripMargin)
  }

  private val catalogSqlReadSql =
    """WITH live AS (
      |  SELECT * FROM orders
      |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)
      |    AND NOT (o_orderpriority = '1-URGENT'))
      |SELECT o_orderstatus AS grp,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM live GROUP BY o_orderstatus
      |UNION ALL
      |SELECT '_total', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT) FROM live
      |UNION ALL
      |SELECT '_v0', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT) FROM orders""".stripMargin

  /** Iceberg-style metadata tables through SQL: `graft.orders_dv.history`
    * (per-commit operation classification + metadata live counts) and
    * `graft.orders_dv.files` (per-live-file recorded rows). Over
    * [[ordersDvDeleted]] the history is fully deterministic — v0 append of
    * everything, v1/v2 DV deletes with exact survivor counts — and the
    * files sum pins that DV deletes rewrite NOTHING: the live files still
    * hold every original row, so `sum(rows)` equals the v0 count, not the
    * live count. The oracle replays all four numbers from the raw table.
    */
  def catalogHistoryQ(s: SparkSession, dir: String): DataFrame = {
    val t = ordersDvDeleted(s, dir)
    val root = t.substring(0, t.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    s.sql(
      """SELECT 'v' || CAST(version AS STRING) AS snap, operation AS op,
        |       n_live_rows AS n
        |FROM graft.orders_dv.history
        |UNION ALL
        |SELECT 'files', 'live', CAST(sum(rows) AS LONG)
        |FROM graft.orders_dv.files""".stripMargin)
  }

  private val catalogHistorySql =
    """SELECT 'v0' AS snap, 'append' AS op, count(*) AS n FROM orders
      |UNION ALL
      |SELECT 'v1', 'delete', count(*) FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)
      |UNION ALL
      |SELECT 'v2', 'delete', count(*) FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 < 3)
      |  AND NOT (o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT 'files', 'live', count(*) FROM orders""".stripMargin

  private val rtfDim = graft.Scratch.fixture[String]("graft_tlog", "rtf_dim_parquet")

  /** Join-key RUNTIME pruning end to end, hash-gated: the bloom-indexed
    * hash-clustered orders log joins a customer dim whose residual filter
    * survives only a few keys — the dim's VALUES must reach the scan at
    * runtime ([[GraftLogScan.filter]], asserted via `runtimeKept`) and the
    * joined accounting must equal DuckDB's replay of the same join. A
    * false-positive-free but FALSE-NEGATIVE bloom skip (a dropped file
    * that held a key) flips the sums.
    */
  def runtimePrunedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val t = ordersBloomed(s, dir)
    val root = t.substring(0, t.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    // the dim must be a REAL source with a residual filter for dynamic
    // pruning to plan, and the toy-scale stats veto must be off
    val dimPath = rtfDim(dir) { r =>
      val p = r + "/rtf_dim_parquet"
      Tables.load(s, dir, "customer").select(col("c_custkey"))
        .write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(dimPath).createOrReplaceTempView("graft_rtf_dim")
    val prev = s.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    // pin the join geometry across scale factors: the customer-key dim is
    // always the smaller side — 1m keeps it broadcast (so DPP can reuse
    // the exchange) while the orders fact stays the probe side
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1m")
    try {
      val df = s.sql(
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(floor(f.o_totalprice * 100) AS LONG)) AS LONG) AS cents,
          |       CAST(min(f.o_custkey) AS LONG) AS min_k,
          |       CAST(max(f.o_custkey) AS LONG) AS max_k
          |FROM graft.orders_bloom f
          |JOIN graft_rtf_dim d ON f.o_custkey = d.c_custkey
          |WHERE d.c_custkey % 131 = 0""".stripMargin)
      df.collect() // execute, so the runtime filter fires
      val scans = collectLogScans(df.queryExecution.executedPlan)
      require(scans.nonEmpty, "expected the catalog scan in the executed plan")
      require(scans.exists(_.runtimeKept.isDefined),
        "dim join values never reached the scan's runtime filter")
      df
    } finally {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  private def collectLogScans(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[GraftLogScan] =
    p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case sc: GraftLogScan => Seq(sc)
          case _ => Seq.empty
        }
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectLogScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectLogScans(q.plan)
    }.flatten

  private val runtimePrunedJoinSql =
    """SELECT count(*) AS n,
      |       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |       CAST(min(o.o_custkey) AS BIGINT) AS min_k,
      |       CAST(max(o.o_custkey) AS BIGINT) AS max_k
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_custkey % 131 = 0""".stripMargin

  private val mmxBuilt = graft.Scratch.fixture[String]("graft_tlog", "orders_mmx")

  /** Metadata-only EXTREMES through SQL: orders committed with a stats
    * sidecar on both key columns, then `min`/`max`/`count(*)` in one
    * statement — asserted to plan against the metadata scan (zero data
    * files), hash-gated against DuckDB's direct aggregates. Wrong sidecar
    * bounds, a missed file, or an unsound push under partial coverage
    * all flip a value.
    */
  def metadataMinMaxQ(s: SparkSession, dir: String): DataFrame = {
    val t = mmxBuilt(dir) { root =>
      val table = root + "/orders_mmx"
      commitAppend(Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey").repartition(4), table,
        statCols = Seq("o_orderkey", "o_custkey"))
      table
    }
    val root = t.substring(0, t.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    val df = s.sql(
      """SELECT min(o_orderkey) AS mn_ok, max(o_orderkey) AS mx_ok,
        |       min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
        |       count(*) AS n
        |FROM graft.orders_mmx""".stripMargin)
    val plan = df.queryExecution.sparkPlan.toString
    require(plan.contains("GraftMetadataScan") && !plan.contains("GraftLogScan"),
      s"extremes must answer from metadata alone:\n$plan")
    df
  }

  private val metadataMinMaxSql =
    """SELECT min(o_orderkey) AS mn_ok, max(o_orderkey) AS mx_ok,
      |       min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
      |       count(*) AS n
      |FROM orders""".stripMargin

  private val dmlBuilt = graft.Scratch.fixture[String]("graft_catdml", "orders_dml")

  /** The SQL WRITE face of the log: the whole DML lifecycle — CTAS,
    * INSERT INTO ... SELECT, INSERT ... VALUES, a DV `DELETE FROM`, an
    * `ALTER TABLE ADD COLUMN` widening, and a post-evolution insert — runs
    * as plain `spark.sql` statements against [[GraftCatalog]], then the
    * final snapshot aggregates per status plus one `VERSION AS OF`
    * time-travel count of the pre-delete head. The oracle replays the
    * lifecycle RELATIONALLY from the raw parquet (inserted slices unioned,
    * the delete as a filter applied only to rows present at delete time,
    * the evolved column null for pre-evolution rows) — a wrong commit
    * order, a delete that touched the post-delete insert, a lost
    * null-backfill, or an off-by-one version pin all flip a number.
    */
  def catalogSqlDml(s: SparkSession, dir: String): DataFrame = {
    val root = dmlBuilt(dir) { r =>
      s.conf.set("spark.sql.catalog.graftw", classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graftw.root", r)
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_dml_src")
      s.sql(
        """CREATE TABLE graftw.orders_dml AS
          |SELECT o_orderkey, o_orderstatus,
          |       CAST(floor(o_totalprice * 100) AS LONG) AS cents
          |FROM orders_dml_src WHERE o_orderkey % 4 = 0""".stripMargin) // v0 (empty) + v1
      s.sql(
        """INSERT INTO graftw.orders_dml
          |SELECT o_orderkey, o_orderstatus,
          |       CAST(floor(o_totalprice * 100) AS LONG)
          |FROM orders_dml_src WHERE o_orderkey % 4 = 1""".stripMargin) // v2
      s.sql("INSERT INTO graftw.orders_dml VALUES (-1, 'X', 0)")        // v3
      s.sql(
        """DELETE FROM graftw.orders_dml
          |WHERE o_orderstatus = 'F' AND cents < 10000000""".stripMargin) // v4 (DV)
      s.sql("ALTER TABLE graftw.orders_dml ADD COLUMN flag BIGINT")     // v5
      s.sql(
        """INSERT INTO graftw.orders_dml
          |SELECT o_orderkey, o_orderstatus,
          |       CAST(floor(o_totalprice * 100) AS LONG), o_orderkey
          |FROM orders_dml_src WHERE o_orderkey % 4 = 2""".stripMargin) // v6
      r
    }
    s.conf.set("spark.sql.catalog.graftw", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftw.root", root)
    s.sql(
      """SELECT o_orderstatus AS grp, count(*) AS n, sum(cents) AS cents,
        |       sum(coalesce(flag, CAST(0 AS LONG))) AS flagsum
        |FROM graftw.orders_dml GROUP BY o_orderstatus
        |UNION ALL
        |SELECT '_v3', count(*), CAST(0 AS LONG), CAST(0 AS LONG)
        |FROM graftw.orders_dml VERSION AS OF 3""".stripMargin)
  }

  private val catalogSqlDmlSql =
    """WITH p0 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST(NULL AS BIGINT) AS flag
      |  FROM orders WHERE o_orderkey % 4 = 0),
      |p1 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST(NULL AS BIGINT) AS flag
      |  FROM orders WHERE o_orderkey % 4 = 1),
      |sent AS (
      |  SELECT CAST(-1 AS BIGINT) AS o_orderkey, 'X' AS o_orderstatus,
      |         CAST(0 AS BIGINT) AS cents, CAST(NULL AS BIGINT) AS flag),
      |pre AS (
      |  SELECT * FROM p0 UNION ALL SELECT * FROM p1 UNION ALL SELECT * FROM sent),
      |kept AS (
      |  SELECT * FROM pre WHERE NOT (o_orderstatus = 'F' AND cents < 10000000)),
      |p2 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST(o_orderkey AS BIGINT) AS flag
      |  FROM orders WHERE o_orderkey % 4 = 2),
      |live AS (SELECT * FROM kept UNION ALL SELECT * FROM p2)
      |SELECT o_orderstatus AS grp, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents) AS BIGINT) AS cents,
      |       CAST(sum(coalesce(flag, 0)) AS BIGINT) AS flagsum
      |FROM live GROUP BY o_orderstatus
      |UNION ALL
      |SELECT '_v3', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |FROM pre""".stripMargin

  private val mergeBuilt = graft.Scratch.fixture[String]("graft_catmerge", "cust_bal")

  /** SQL UPDATE + MERGE INTO through the catalog's group-based row-level
    * rewrite ([[GraftRowLevelOperation]]): a CTAS'd customer-balance table
    * takes an UPDATE (copy-on-write through the real DSv2 batch write),
    * then one MERGE that deletes heavy-order customers, bumps the rest by
    * their order count, and inserts synthetic not-matched keys. The oracle
    * replays all three statements RELATIONALLY — a mis-stripped operation
    * column, a lost carryover row, a double-applied update, or a MERGE
    * branch applied in the wrong order all flip the per-nation sums.
    */
  def catalogSqlMerge(s: SparkSession, dir: String): DataFrame = {
    val root = mergeBuilt(dir) { r =>
      s.conf.set("spark.sql.catalog.graftm", classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graftm.root", r)
      Tables.load(s, dir, "customer").createOrReplaceTempView("merge_cust_src")
      Tables.load(s, dir, "orders").createOrReplaceTempView("merge_orders_src")
      s.sql(
        """CREATE TABLE graftm.cust_bal AS
          |SELECT c_custkey AS k, c_nationkey AS nat,
          |       CAST(floor(c_acctbal * 100) AS LONG) AS bal
          |FROM merge_cust_src""".stripMargin)                      // v0 (empty) + v1
      s.sql("UPDATE graftm.cust_bal SET bal = bal + 1000 WHERE nat % 5 = 0") // v2 CoW
      s.sql(
        """SELECT o_custkey AS k, count(*) AS n
          |FROM merge_orders_src GROUP BY o_custkey
          |UNION ALL
          |SELECT c_custkey + 1000000 AS k, CAST(7 AS LONG) AS n
          |FROM merge_cust_src WHERE c_custkey % 100 = 0""".stripMargin)
        .createOrReplaceTempView("merge_src")
      s.sql(
        """MERGE INTO graftm.cust_bal t USING merge_src s ON t.k = s.k
          |WHEN MATCHED AND s.n > 15 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.n
          |WHEN NOT MATCHED THEN INSERT (k, nat, bal) VALUES (s.k, -1, s.n)
          |""".stripMargin)                                          // v3 CoW
      r
    }
    s.conf.set("spark.sql.catalog.graftm", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftm.root", root)
    s.sql(
      """SELECT nat AS grp, count(*) AS n_rows, sum(bal) AS bal_sum
        |FROM graftm.cust_bal GROUP BY nat""".stripMargin)
  }

  private val catalogSqlMergeSql =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_nationkey AS nat,
      |         CAST(floor(c_acctbal * 100) AS BIGINT)
      |           + CASE WHEN c_nationkey % 5 = 0 THEN 1000 ELSE 0 END AS bal
      |  FROM customer),
      |src AS (
      |  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
      |  FROM orders GROUP BY o_custkey
      |  UNION ALL
      |  SELECT c_custkey + 1000000 AS k, CAST(7 AS BIGINT) AS n
      |  FROM customer WHERE c_custkey % 100 = 0),
      |final AS (
      |  SELECT b.k, b.nat, b.bal + coalesce(s.n, 0) AS bal
      |  FROM base b LEFT JOIN src s ON b.k = s.k
      |  WHERE s.k IS NULL OR s.n <= 15
      |  UNION ALL
      |  SELECT s.k, -1 AS nat, s.n AS bal
      |  FROM src s LEFT JOIN base b ON s.k = b.k WHERE b.k IS NULL)
      |SELECT nat AS grp, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(bal) AS BIGINT) AS bal_sum
      |FROM final GROUP BY nat""".stripMargin

  private val mergeEvolveBuilt = graft.Scratch.fixture[String]("graft_catmergeevo", "cust_evo")

  /** `MERGE WITH SCHEMA EVOLUTION` through the catalog: the source carries a
    * `spend` column the target lacks; Spark's ResolveMergeIntoSchemaEvolution
    * drives an AddColumn through [[GraftCatalog.alterTable]] (schema-widening
    * empty commit) before the group-based rewrite, so matched rows take the
    * new value, carried-forward rows null-backfill, and not-matched inserts
    * land wide. The oracle replays the merge RELATIONALLY with an explicit
    * NULL for unmatched targets — `sum(coalesce(spend, -1))` hash-gates the
    * backfill (a zero-instead-of-null or a lost carryover flips the sum).
    * Catalog name derives from the scratch root: Spark caches catalog
    * INSTANCES by name, so a fixed name would pin the first dir's root.
    */
  def catalogSqlMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    val root = mergeEvolveBuilt(dir) { r =>
      val cat = "graftme_" + java.lang.Long.toHexString(
        java.lang.Integer.toUnsignedLong(r.hashCode))
      s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", r)
      Tables.load(s, dir, "customer").createOrReplaceTempView("mevo_cust_src")
      Tables.load(s, dir, "orders").createOrReplaceTempView("mevo_orders_src")
      s.sql(
        s"""CREATE TABLE $cat.cust_evo AS
           |SELECT c_custkey AS k, c_nationkey AS nat,
           |       CAST(floor(c_acctbal * 100) AS LONG) AS bal
           |FROM mevo_cust_src""".stripMargin)                    // v0 (empty) + v1
      s.sql(
        """SELECT o_custkey AS k, CAST(count(*) AS LONG) AS n,
          |       CAST(sum(CAST(floor(o_totalprice) AS LONG)) AS LONG) AS spend
          |FROM mevo_orders_src GROUP BY o_custkey
          |UNION ALL
          |SELECT c_custkey + 2000000 AS k, CAST(3 AS LONG) AS n,
          |       CAST(500 AS LONG) AS spend
          |FROM mevo_cust_src WHERE c_custkey % 50 = 0""".stripMargin)
        .createOrReplaceTempView("mevo_src")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.cust_evo t USING mevo_src s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.n, spend = s.spend
           |WHEN NOT MATCHED THEN INSERT (k, nat, bal, spend)
           |  VALUES (s.k, -1, s.n, s.spend)""".stripMargin)      // v2 widen + v3 CoW
      r
    }
    val cat = "graftme_" + java.lang.Long.toHexString(
      java.lang.Integer.toUnsignedLong(root.hashCode))
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""SELECT nat AS grp, count(*) AS n_rows,
         |       CAST(sum(bal) AS BIGINT) AS bal_sum,
         |       CAST(sum(coalesce(spend, -1)) AS BIGINT) AS spend_sum
         |FROM $cat.cust_evo GROUP BY nat""".stripMargin)
  }

  private val catalogSqlMergeEvolveSql =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_nationkey AS nat,
      |         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer),
      |src AS (
      |  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS spend
      |  FROM orders GROUP BY o_custkey
      |  UNION ALL
      |  SELECT c_custkey + 2000000 AS k, CAST(3 AS BIGINT) AS n,
      |         CAST(500 AS BIGINT) AS spend
      |  FROM customer WHERE c_custkey % 50 = 0),
      |final AS (
      |  SELECT b.k, b.nat, b.bal + coalesce(s.n, 0) AS bal, s.spend
      |  FROM base b LEFT JOIN src s ON b.k = s.k
      |  UNION ALL
      |  SELECT s.k, -1 AS nat, s.n AS bal, s.spend
      |  FROM src s LEFT JOIN base b ON s.k = b.k WHERE b.k IS NULL)
      |SELECT nat AS grp, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(bal) AS BIGINT) AS bal_sum,
      |       CAST(sum(coalesce(spend, -1)) AS BIGINT) AS spend_sum
      |FROM final GROUP BY nat""".stripMargin

  private val nestedBuilt = graft.Scratch.fixture[String]("graft_catnested", "orders_nested")

  /** NESTED columns (struct / struct-of-struct / array-of-struct / map)
    * through the catalog's Group-API read path: an orders-derived table
    * whose payload lives entirely in nested shapes is committed to a log
    * and aggregated back out through SQL field access, lambda-free. The
    * oracle replays from the RAW flat orders table — so a wrong struct
    * member offset, a lost null, a mis-ordered map entry or a broken
    * array-of-struct element all flip a sum without the oracle needing any
    * nested syntax of its own. (`balsum` must equal `cents` by
    * construction: the map value is keyed by the row's own status — a map
    * read defect breaks the equality through the hash gate.)
    */
  def catalogSqlNested(s: SparkSession, dir: String): DataFrame = {
    val root = nestedBuilt(dir) { r =>
      val nested = Tables.load(s, dir, "orders").selectExpr(
        "o_orderkey AS k",
        "named_struct('status', o_orderstatus, 'price', named_struct(" +
          "'cents', CAST(floor(o_totalprice * 100) AS LONG), " +
          "'bucket', o_orderkey % 7)) AS meta",
        "array(named_struct('q', o_orderkey % 5), named_struct('q', o_orderkey % 3)) AS legs",
        "map(o_orderstatus, CAST(floor(o_totalprice * 100) AS LONG)) AS bal")
      commitAppend(nested, r + "/orders_nested")
      r
    }
    s.conf.set("spark.sql.catalog.graftn", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftn.root", root)
    s.sql(
      """SELECT meta.status AS grp, count(*) AS n,
        |       sum(meta.price.cents) AS cents,
        |       sum(meta.price.bucket) AS buckets,
        |       sum(legs[0].q + legs[1].q) AS legsum,
        |       sum(element_at(bal, meta.status)) AS balsum
        |FROM graftn.orders_nested GROUP BY meta.status""".stripMargin)
  }

  private val catalogSqlNestedSql =
    """SELECT o_orderstatus AS grp, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |       CAST(sum(o_orderkey % 7) AS BIGINT) AS buckets,
      |       CAST(sum(o_orderkey % 5 + o_orderkey % 3) AS BIGINT) AS legsum,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS balsum
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  private val embCatBuilt = graft.Scratch.fixture[String]("graft_tlog", "embeddings_cat")

  /** embeddings committed to a table log next to [[ordersDvDeleted]] (same
    * catalog root), memoized per data dir
    */
  private def embeddingsCat(s: SparkSession, dir: String): String =
    embCatBuilt(dir) { root =>
      val t = root + "/embeddings_cat"
      commitAppend(Tables.load(s, dir, "embeddings"), t)
      t
    }

  /** ARRAY columns through the SQL catalog: the embeddings table served by
    * [[GraftCatalog]]'s Group-API read path — per-element fixed-point sums
    * folded inside SQL lambdas over the array column, grouped by a key
    * bucket. A wrong element, lost null-handling, or mis-ordered list read
    * in [[ChangeFileReader.arrayConverter]] flips a sum; the oracle replays
    * from the raw parquet with list_transform/list_sum.
    */
  def catalogSqlEmb(s: SparkSession, dir: String): DataFrame = {
    val t = embeddingsCat(s, dir)
    val root = t.substring(0, t.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    s.sql(
      """SELECT vec_id % 10 AS grp, count(*) AS n,
        |       sum(size(embedding)) AS n_elems,
        |       sum(aggregate(embedding, CAST(0 AS LONG),
        |             (a, x) -> a + CAST(floor(CAST(x AS DOUBLE) * 1000000) AS LONG)))
        |         AS esum_e6
        |FROM graft.embeddings_cat GROUP BY vec_id % 10""".stripMargin)
  }

  private val catalogSqlEmbSql =
    """SELECT vec_id % 10 AS grp, count(*) AS n,
      |       CAST(sum(len(embedding)) AS BIGINT) AS n_elems,
      |       CAST(sum(list_sum(list_transform(embedding,
      |              x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))) AS BIGINT)
      |         AS esum_e6
      |FROM embeddings GROUP BY 1""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("catalog_sql_read", catalogSqlRead, Some(catalogSqlReadSql)),
    Q("catalog_history_table", catalogHistoryQ, Some(catalogHistorySql)),
    Q("metadata_minmax", metadataMinMaxQ, Some(metadataMinMaxSql)),
    Q("runtime_pruned_join", runtimePrunedJoinQ, Some(runtimePrunedJoinSql)),
    Q("catalog_sql_emb", catalogSqlEmb, Some(catalogSqlEmbSql)),
    Q("catalog_sql_dml", catalogSqlDml, Some(catalogSqlDmlSql)),
    Q("catalog_sql_merge", catalogSqlMerge, Some(catalogSqlMergeSql)),
    Q("catalog_sql_merge_evolve", catalogSqlMergeEvolve, Some(catalogSqlMergeEvolveSql)),
    Q("catalog_sql_nested", catalogSqlNested, Some(catalogSqlNestedSql)),
    Q("bloom_point_lookup", bloomPointLookup, Some(bloomPointLookupSql)),
    Q("change_feed", changeFeedQ, Some(changeFeedSql)),
    Q("change_feed_updates", changeFeedUpdatesQ, Some(changeFeedUpdatesSql)),
    Q("cdf_maintained_agg", cdfMaintainedAgg, Some(cdfMaintainedAggSql)),
    Q("cdf_stream_agg", cdfStreamAgg, Some(cdfMaintainedAggSql)),
    Q("metadata_count", metadataCountQ, Some(metadataCountSql)),
    Q("dv_delete_read", dvDeleteRead, Some(dvDeleteReadSql)),
    Q("time_travel_read", timeTravelRead, Some(timeTravelReadSql)),
    Q("bitemporal_asof", bitemporalAsOf, Some(bitemporalAsOfSql)),
    Q("schema_evolution_read", schemaEvolutionRead, Some(schemaEvolutionReadSql)),
    Q("version_diff", versionDiff, Some(versionDiffSql)),
    Q("clone_divergence", cloneDivergence, Some(cloneDivergenceSql)),
    Q("stats_retrofit_read", statsRetrofitRead, Some(statsRetrofitReadSql)),
    Q("stats_string_pruned_read", statsStringPrunedRead, Some(statsStringPrunedReadSql)),
    Q("catalog_clustered_insert", catalogClusteredInsert, Some(catalogClusteredInsertSql)),
    Q("metadata_minmax_str", metadataMinMaxStrQ, Some(metadataMinMaxStrSql)),
    Q("catalog_bucketed_join", catalogBucketedJoin, Some(catalogBucketedJoinSql)))
}
