package graft.sources

import java.nio.file.{Files, Paths}
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import TableLog.Stats.Utf8

/** DSv2 `TableCatalog` over a directory of [[TableLog]] tables — the SQL
  * face of the engine's own storage, completing the serving story (the
  * reference's Grafana→store role): after
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog` and
  * `spark.sql.catalog.graft.root = <dir>`, any SQL client (including JDBC
  * sessions through [[graft.Serve]]) can run
  *
  *   SELECT ... FROM graft.<table>                      -- latest snapshot
  *   SELECT ... FROM graft.<table> VERSION AS OF 3      -- time travel
  *   SELECT ... FROM graft.<table> TIMESTAMP AS OF ...  -- commit-time travel
  *   SELECT count(*) FROM graft.<table>                 -- ZERO data files read
  *
  * with snapshot isolation (the file list pins at plan time), DV
  * merge-on-read (deleted positions subtracted per file), schema-evolution
  * reads (merged live-file footers), and `count(*)` answered entirely from
  * the log's recorded per-file row counts via complete aggregate pushdown
  * ([[TableLog.metadataCount]] — manifests and footers only, no scan).
  *
  * 100 TB posture: every catalog operation is metadata-sized (manifest
  * lists, parquet footers); the scan reports metadata-exact statistics
  * (row count + live bytes) so Catalyst's broadcast decision for log-table
  * joins is driven by REAL stats, not a default guess.
  *
  * SQL DML/DDL route INTO the same commit protocol the API uses (optimistic
  * concurrency, CHECK constraints, row-count/stat sidecars) — SQL and API
  * writers can interleave on one table and the manifest link(2) race decides:
  *
  *   CREATE TABLE graft.t (k BIGINT, s STRING)   -- v0: one empty data file
  *                                               --     carrying the schema
  *   CREATE TABLE graft.t AS SELECT ...          -- CTAS = create + append
  *   INSERT INTO graft.t SELECT ...              -- commitAppend (distributed
  *                                               --   write, constraints ON)
  *   INSERT OVERWRITE graft.t SELECT ...         -- commitOverwrite (prior
  *                                               --   versions time-travel)
  *   DELETE FROM graft.t WHERE <pred>            -- deletion vectors: no data
  *                                               --   file rewritten
  *   TRUNCATE TABLE graft.t                      -- metadata-only empty commit
  *   ALTER TABLE graft.t ADD COLUMN x BIGINT     -- schema-widening empty
  *                                               --   commit (merged-footer
  *                                               --   reads null-backfill)
  *   DROP TABLE graft.t                          -- removes log + data files
  *
  * The insert path is a deliberate DSv2→V1 write fallback ([[V1Write]]):
  * the whole micro-plan arrives as one DataFrame, so [[TableLog]]'s
  * distributed parquet write, Observation-based CHECK enforcement and
  * footer-derived row counts apply unchanged — same choice (and reason) as
  * the `graft-log` streaming sink. DELETE pushes the WHERE down as V1
  * filters re-rendered to one SQL condition (strings/integers/decimals/
  * booleans; anything else — e.g. timestamp literals, whose text form is
  * engine-sensitive — is rejected LOUDLY at analysis, never mis-deleted).
  *
  * Current read-path limits (documented, not silent): scalar columns only
  * (the per-file reader is the change source's Group-API reader — project
  * around nested/array columns, which is what SQL analytics over log
  * tables needs), and filters evaluate post-scan (stats/bloom pruning
  * stays on the [[TableLog.readPruned]] API path).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  /** the ONE catalog function: `bucket(n, key)` — what the scan's reported
    * `KeyGroupedPartitioning` transform resolves through
    * ([[GraftBucketFunction]]); Spark matches both join sides' transforms
    * by the bound function's canonicalName, so two graft catalogs (or two
    * tables of one) are storage-partition-compatible by construction
    */
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  /** SQL stored procedures (`CALL <cat>.system.txn_commit(...)` /
    * `txn_recover()`) — the JDBC-visible face of [[Txn]]'s atomic
    * multi-table commit (see [[GraftProcedures]])
    */
  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (ident.namespace.toSeq, ident.name.toLowerCase) match {
      case (Seq("system"), "txn_commit") => new GraftProcedures.TxnCommit(root)
      case (Seq("system"), "txn_recover") => new GraftProcedures.TxnRecover(root)
      case (Seq("system"), "optimize") => new GraftProcedures.Optimize(root)
      case (Seq("system"), "zorder") => new GraftProcedures.ZOrder(root)
      case (Seq("system"), "zorder_n") => new GraftProcedures.ZOrderN(root)
      case (Seq("system"), "vacuum") => new GraftProcedures.Vacuum(root)
      case (Seq("system"), "vacuum_plan") => new GraftProcedures.VacuumPlan(root)
      case (Seq("system"), "rollback") => new GraftProcedures.Rollback(root)
      case (Seq("system"), "clone") => new GraftProcedures.Clone(root)
      case (Seq("system"), "analyze") => new GraftProcedures.Analyze(root)
      case (Seq("system"), "optimize_size") => new GraftProcedures.OptimizeSize(root)
      case (Seq("system"), "build_bloom") => new GraftProcedures.BuildBloom(root)
      case (Seq("system"), "build_ndv") => new GraftProcedures.BuildNdv(root)
      case (Seq("system"), "backup") => new GraftProcedures.Backup(root)
      case (Seq("system"), "restore") => new GraftProcedures.Restore(root)
      case (Seq("system"), "tag") => new GraftProcedures.Tag(root)
      case (Seq("system"), "untag") => new GraftProcedures.Untag(root)
      case _ => throw new IllegalArgumentException(
        s"$catalogName: unknown procedure ${ident.namespace.mkString(".")}.${ident.name} " +
          s"(available: ${GraftCatalog.ProcedureNames.mkString(", ")})")
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftCatalog.ProcedureNames.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"catalog '$name' requires spark.sql.catalog.$name.root = <directory of table logs>"))
  }

  override def name(): String = catalogName

  private def part(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") && p != ".." && p != ".",
      s"illegal catalog name part '$p'")
    p
  }

  private def tablePath(ident: Identifier): String =
    (ident.namespace.toSeq :+ ident.name)
      .foldLeft(Paths.get(root))((d, n) => d.resolve(part(n))).toString

  private def nsPath(namespace: Array[String]) =
    namespace.toSeq.foldLeft(Paths.get(root))((d, n) => d.resolve(part(n)))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace.toSeq)
    val st = Files.list(dir)
    try st.iterator().asScala
      .filter(d => TableLog.versions(d.toString).nonEmpty)
      .map(d => Identifier.of(namespace, d.getFileName.toString))
      .toArray
    finally st.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    TableLog.versions(tablePath(ident)).nonEmpty

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <v>` — a commit number, or a NAMED TAG
    * ([[TableLog.tagVersion]]): `VERSION AS OF 'release-2024q1'`
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        TableLog.refVersion(tablePath(ident), version).getOrElse {
          val known = TableLog.refs(tablePath(ident)).keys.toSeq.sorted
          throw new IllegalArgumentException(
            s"$catalogName: VERSION AS OF takes a commit version number or a tag, " +
              s"got '$version' (tags of ${ident.name}: " +
              s"${if (known.isEmpty) "none" else known.mkString(", ")})")
        }
    }
    load(ident, Some(v))
  }

  /** `TIMESTAMP AS OF <t>` — the latest version committed at or before the
    * requested instant (micros), from the manifests' publish times
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tablePath(ident)
    val vs = TableLog.versions(p)
    if (vs.isEmpty) throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    val at = vs.filter(v => TableLog.versionCommitTimeMicros(p, v) <= timestamp)
    require(at.nonEmpty,
      s"no version of ${ident.name} committed at or before timestamp $timestamp")
    load(ident, Some(at.last))
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    metaTableOf(ident) match {
      case Some((base, kind)) =>
        val vs = TableLog.versions(base)
        val v = asOf.getOrElse(vs.last)
        require(vs.contains(v),
          s"version $v of ${ident.name} not in committed set ${vs.mkString(",")}")
        return new GraftMetaTable(s"$catalogName.${ident.name}", base, v, kind)
      case None =>
    }
    val p = tablePath(ident)
    val vs = TableLog.versions(p)
    if (vs.isEmpty) throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v of ${ident.name} not in committed set ${vs.mkString(",")}")
    new GraftLogTable(s"$catalogName.${ident.name}" +
      asOf.map(a => s"@v$a").getOrElse(""), p, v)
  }

  /** Iceberg-style METADATA TABLES: `graft.t.history` / `graft.t.files`
    * (multipart — the table becomes the namespace) and the Hive-style
    * backticked twin `` graft.`t$history` ``. Resolution is unambiguous:
    * namespaces are plain directories, committed tables are never
    * namespaces, so "the namespace path IS a committed table" can only
    * mean a metadata read.
    */
  private def metaTableOf(ident: Identifier): Option[(String, String)] = {
    val kinds = Set("history", "files", "refs")
    val dotted = Option.when(ident.namespace.nonEmpty &&
      kinds(ident.name.toLowerCase)) {
      (ident.namespace.toSeq
        .foldLeft(Paths.get(root))((d, n) => d.resolve(part(n))).toString,
        ident.name.toLowerCase)
    }.filter { case (p, _) => TableLog.versions(p).nonEmpty }
    if (dotted.isDefined) return dotted
    val i = ident.name.lastIndexOf('$')
    Option.when(i > 0 && kinds(ident.name.substring(i + 1).toLowerCase)) {
      ((ident.namespace.toSeq :+ ident.name.substring(0, i))
        .foldLeft(Paths.get(root))((d, n) => d.resolve(part(n))).toString,
        ident.name.substring(i + 1).toLowerCase)
    }.filter { case (p, _) => TableLog.versions(p).nonEmpty }
  }

  private def unsupported(what: String): Nothing = throw new UnsupportedOperationException(
    s"catalog '$catalogName' does not support $what")

  private def emptyRelation(schema: StructType): DataFrame =
    GraftCatalog.emptyRelationOf(schema)

  /** `CREATE TABLE` — version 0 is an overwrite commit of the empty
    * schema-bearing relation; CTAS then lands its query as the v1 append.
    * Partition transforms are rejected loudly: log tables cluster via
    * OPTIMIZE ZORDER + the stats/bloom sidecars, not directory partitioning.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"graft log tables are unpartitioned (cluster via OPTIMIZE ZORDER + stats/bloom " +
        s"sidecars); got PARTITIONED BY (${partitions.mkString(", ")})")
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident.namespace.toSeq :+ ident.name)
    TableLog.commitOverwrite(emptyRelation(schema), tablePath(ident))
    // engine-interpreted properties (graft.*) persist to the props sidecar;
    // Spark's own bookkeeping keys (provider/owner/...) are not the table's
    properties.asScala.foreach { case (k, v) =>
      if (k.startsWith("graft.")) TableLog.setTableProp(tablePath(ident), k, v)
    }
    load(ident, None)
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` — a schema-widening EMPTY append
    * commit: the new version's one zero-row file carries the widened
    * footer, merged-footer reads ([[GraftLogTable.schema]], the per-file
    * change reader) null-backfill the old files, and prior versions keep
    * the narrow schema — the same evolution discipline as
    * [[TableLog.schemaEvolutionRead]], triggered from SQL.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (TableLog.versions(p).isEmpty)
      throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    // property changes are sidecar updates, never commits
    val (propChanges, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    propChanges.foreach {
      case sp: TableChange.SetProperty =>
        require(sp.property.startsWith("graft."),
          s"only graft.* properties are settable (got ${sp.property})")
        TableLog.setTableProp(p, sp.property, sp.value)
      case rp: TableChange.RemoveProperty => TableLog.unsetTableProp(p, rp.property)
      case _ => ()
    }
    if (schemaChanges.isEmpty) return load(ident, None)
    val widened = schemaChanges.foldLeft(load(ident, None).schema) {
      case (s, a: TableChange.AddColumn) =>
        require(a.fieldNames.length == 1,
          s"only top-level ADD COLUMN is supported, got ${a.fieldNames.mkString(".")}")
        require(a.isNullable,
          s"added column ${a.fieldNames.head} must be nullable: existing rows backfill NULL")
        require(a.position == null,
          "ADD COLUMN ... FIRST/AFTER is unsupported: merged-footer schemas append at the end")
        require(!s.fieldNames.exists(_.equalsIgnoreCase(a.fieldNames.head)),
          s"column ${a.fieldNames.head} already exists")
        s.add(StructField(a.fieldNames.head, a.dataType, nullable = true))
      case (_, other) => unsupported(s"ALTER TABLE change $other (only ADD COLUMN)")
    }
    TableLog.commitAppend(emptyRelation(widened), p)
    load(ident, None)
  }

  /** `DROP TABLE` — removes the directory (manifests, sidecars, data files).
    * True only when a committed table actually lived there.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(tablePath(ident))
    if (TableLog.versions(dir.toString).isEmpty) false
    else {
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p)) {
          val st = Files.list(p)
          try st.iterator().asScala.toSeq.foreach(rm) finally st.close()
        }
        Files.delete(p)
      }
      rm(dir)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    unsupported("RENAME TABLE (copy via CTAS, then DROP)")

  // ---- SupportsNamespaces (directories under root) --------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val st = Files.list(Paths.get(root))
    try st.iterator().asScala
      .filter(d => Files.isDirectory(d) && TableLog.versions(d.toString).isEmpty)
      .map(d => Array(d.getFileName.toString)).toArray
    finally st.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (Files.isDirectory(nsPath(namespace))) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace.toSeq)

  /** `CREATE NAMESPACE` — a directory under root */
  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    Files.createDirectories(nsPath(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    unsupported("ALTER NAMESPACE")

  /** `DROP NAMESPACE [CASCADE]` — non-cascade requires the directory empty */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      if (!cascade) {
        val st = Files.list(dir)
        val empty = try !st.iterator().hasNext finally st.close()
        require(empty, s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      }
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p)) {
          val st = Files.list(p)
          try st.iterator().asScala.toSeq.foreach(rm) finally st.close()
        }
        Files.delete(p)
      }
      rm(dir)
      true
    }
  }
}

private[sources] object GraftCatalog {

  /** the `_file` metadata column name (Delta/Iceberg's diagnostic idiom) */
  val FileCol = "_file"

  /** every `CALL <cat>.system.<name>(...)` procedure */
  val ProcedureNames: Seq[String] = Seq(
    "txn_commit", "txn_recover", "optimize", "zorder", "vacuum",
    "vacuum_plan", "rollback", "tag", "untag", "clone", "analyze",
    "optimize_size", "build_bloom", "build_ndv", "backup", "restore",
    "zorder_n")

  /** one empty data file whose parquet footer carries `schema` — how DDL
    * materializes a schema in a log whose schema IS its files' merged
    * footers. `repartition(1)` pins exactly one write task, and Spark's
    * single-directory writer opens its output file eagerly, so an empty
    * relation still yields one (schema-bearing, zero-row) file.
    */
  def emptyRelationOf(schema: StructType): DataFrame =
    SparkSession.active
      .createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .repartition(1)
}

/** One [[TableLog]] table pinned at one version — the snapshot-isolation
  * unit: the catalog resolves the version at load, so every scan this table
  * produces reads exactly that manifest's files no matter what commits land
  * mid-query.
  */
private[sources] class GraftLogTable(ident: String, path: String, v: Long)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  override def name(): String = ident

  /** engine properties from the props sidecar — `SHOW TBLPROPERTIES`
    * reads these; [[TableLog.ClusterByProp]] steers clustered INSERTs
    */
  override def properties(): java.util.Map[String, String] =
    TableLog.tableProps(path).asJava

  /** log directory + pinned snapshot version — what [[MatViewRewrite]]
    * matches a base-table scan by (the pin doubles as the freshness check:
    * a time-travel read at an older version never routes to a view
    * materialized from a newer one)
    */
  private[sources] def logPath: String = path
  private[sources] def logVersion: Long = v

  /** `_file` — the row's log-relative data file (the manifest's identity
    * unit). Exposed for diagnostics (`SELECT _file, count(*) ... GROUP BY`)
    * and REQUIRED by the row-level operations: it is the group id the
    * runtime group filter prunes rewrites by.
    */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = GraftCatalog.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "log-relative data file holding the row"
    })

  override lazy val schema: StructType = {
    val files = TableLog.liveFilePaths(path, v)
    if (files.isEmpty) new StructType()
    // merged footers: the schema-evolution union read() uses, minus nothing
    else SparkSession.active.read.option("mergeSchema", true).parquet(files: _*).schema
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, // readStream.table: append feed
      TableCapability.V1_BATCH_WRITE, // whole-DataFrame insert → commitAppend
      TableCapability.TRUNCATE,       // INSERT OVERWRITE → commitOverwrite
      // `MERGE WITH SCHEMA EVOLUTION INTO`: Spark's
      // ResolveMergeIntoSchemaEvolution computes the source-only columns as
      // AddColumn changes and drives them through [[GraftCatalog.alterTable]]
      // (a schema-widening EMPTY commit) before re-loading the table, so the
      // rewrite plans against the widened head and old files null-backfill.
      // Inert without the explicit WITH SCHEMA EVOLUTION clause; unsupported
      // change shapes (type widening, nested adds) still fail loudly in
      // alterTable rather than evolving wrong.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(path, v, schema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLogWriteBuilder(path)

  // ---- DELETE FROM / TRUNCATE TABLE -----------------------------------------

  /** accept the delete only when EVERY conjunct renders to SQL text exactly
    * — a partial acceptance would delete a superset of the matched rows
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    SqlFilterText.render(filters, schema).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = SqlFilterText.render(filters, schema).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE condition not translatable to the log's predicate form: " +
          filters.mkString(" AND ")))
    if (cond == "true") { truncateTable(); () } // unconditional: skip the DV scan
    else { TableLog.deleteWhere(SparkSession.active, path, cond); () }
  }

  /** metadata-only truncate: an overwrite commit of the empty schema-bearing
    * relation — no DV scan, prior versions still time-travel to the rows
    */
  override def truncateTable(): Boolean = {
    TableLog.commitOverwrite(GraftCatalog.emptyRelationOf(schema), path)
    true
  }

  // ---- UPDATE / MERGE INTO (and DELETE whose predicate the DV path can't
  //      translate): group-based copy-on-write row-level operations --------

  /** SQL `UPDATE` / `MERGE INTO` via Spark's group-based row-level rewrite:
    * the operation's scan pins THIS snapshot (v), Spark computes the
    * replacement relation (CASE-projected updates / the merge join), and a
    * REAL DSv2 [[BatchWrite]] streams each partition straight into an
    * immutable data file ([[graftx.RowParquetWriter]]) — the publish is
    * pinned to v, so a concurrent commit aborts the rewrite loudly instead
    * of being silently dropped. Translatable DELETEs still take the
    * deletion-vector metadata path (Spark's metadata-only-delete optimizer
    * rule picks it via [[canDeleteWhere]]); untranslatable ones fall back
    * here and become a correct copy-on-write instead of an error.
    *
    * 100 TB note: the rewrite is FILE-GRANULAR — `_file` is declared as the
    * operation's metadata attribute, so Spark plans a runtime group-filter
    * subquery, [[GraftRowLevelScan.filter]] narrows the scan to the files
    * holding matched rows, and [[GraftReplaceBatchWrite.commit]] swaps out
    * exactly that enumeration, carrying every other live file (plus its
    * DVs and stats) forward by reference. A selective UPDATE on a clustered
    * table costs O(matched files), not O(table) — Delta/Iceberg's
    * copy-on-write scoping.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(path, v, schema, info.command)
    }
}

private[sources] class GraftRowLevelOperation(
    path: String, v: Long, tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** the exact file set the rewrite's scan enumerated (set at
    * `planInputPartitions`, driver-side) — the replacement scope. None
    * until the scan plans; the write falls back to the full live set then
    * (conservative, never a lost row).
    */
  @volatile private[sources] var scopedFiles: Option[Set[String]] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftRowLevel($cmd, $path@v$v)"

  /** `_file` is the GROUP id: declaring it makes Spark (a) resolve it on
    * the rewrite's scan relation and (b) plan the runtime group-filter
    * subquery, so only files with matching rows are rewritten
    */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftCatalog.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(path, v, tableSchema, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceBatchWrite(path, v, info.schema(),
            GraftRowLevelOperation.this)
        override def description(): String =
          s"GraftReplaceWrite($path, basedOn=v$v)"
      }
    }
}

/** the rewrite-side scan builder: same pruning as the plain one, but the
  * built scan participates in runtime group filtering and reports its final
  * file enumeration back to the operation as the replacement scope
  */
private[sources] class GraftRowLevelScanBuilder(
    path: String, v: Long, full: StructType, op: GraftRowLevelOperation)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftRowLevelScan(path, v, required, op)
}

/** The ReplaceData scan: [[SupportsRuntimeV2Filtering]] on `_file` — the
  * group-filter subquery collects the distinct files holding matched rows
  * and this scan narrows to exactly those; everything it then enumerates is
  * what the paired write replaces. The handshake is positional, not
  * value-parsed: `planInputPartitions` records the FINAL file list in the
  * operation, so an unparseable runtime predicate degrades to a wider
  * rewrite, never to a lost file.
  */
private[sources] class GraftRowLevelScan(
    path: String, v: Long, required: StructType, op: GraftRowLevelOperation)
    extends GraftLogScan(path, v, required, None)
    with SupportsRuntimeV2Filtering {

  /** file-granular rewrite scope — never bucket-grouped (see base doc) */
  override protected def allowBucketedPlanning: Boolean = false

  @volatile private var runtimeKeep: Option[Set[String]] = None
  override protected def extraKeep: Option[Set[String]] = runtimeKeep

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftCatalog.FileCol))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    val keeps = predicates.flatMap { p =>
      val onFile = p.references().exists(_.fieldNames().sameElements(
        Array(GraftCatalog.FileCol)))
      val vals = p.children().collect {
        case l: Literal[_] if l.value().isInstanceOf[
          org.apache.spark.unsafe.types.UTF8String] => l.value().toString
      }
      // IN (f1, ..., fn) / = f — the shapes the group filter emits
      if (onFile && (p.name() == "IN" || p.name() == "=") &&
        vals.length == p.children().length - 1 &&
        p.children().headOption.exists(_.isInstanceOf[NamedReference]))
        Some(vals.toSet)
      else None
    }
    if (keeps.nonEmpty) runtimeKeep = Some(keeps.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // record the EXACT enumeration as the replacement scope before planning
    op.scopedFiles = Some(files.toSet)
    super.planInputPartitions()
  }
}

/** The catalog table as a streaming APPEND feed — the change-feed stream
  * with delete deltas masked out: pure appends pass through, a non-append
  * commit fails LOUDLY unless `ignoreChanges` opted in (silently skewing a
  * stream is never the default). All admission/AvailableNow behavior
  * delegates to the wrapped [[TableChangeStream]], so checkpoints, pacing
  * and restart semantics are identical to the raw feed.
  */
private[sources] class GraftAppendStream(
    inner: TableChangeStream, path: String, ignoreChanges: Boolean)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
  override def latestOffset(): Offset = inner.latestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    inner.latestOffset(start, limit)
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def reportLatestOffset(): Offset = inner.reportLatestOffset()
  override def prepareForTriggerAvailableNow(): Unit =
    inner.prepareForTriggerAvailableNow()
  override def createReaderFactory(): PartitionReaderFactory =
    inner.createReaderFactory()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val parts = inner.planInputPartitions(start, end)
    val (ins, dels) = parts.partition(_.asInstanceOf[ChangeFilePartition].insert)
    if (dels.nonEmpty && !ignoreChanges)
      throw new UnsupportedOperationException(
        s"streaming read of $path hit a non-append commit (delete deltas in " +
          s"versions ${dels.map(_.asInstanceOf[ChangeFilePartition].version)
            .distinct.sorted.mkString(",")}). Restart with " +
          ".option(\"ignoreChanges\", true) to skip delete deltas (rows " +
          "re-added by a rewrite may re-emit), or consume the full change " +
          "feed via readStream.format(\"graft.sources.TableChangeSource\")")
    ins
  }
}

/** Serves a trailing `_file` metadata column: the per-file reader handles
  * the data columns, the constant file identity rides a reused JoinedRow —
  * zero per-row allocation.
  */
private[sources] class FileTaggedReaderFactory(
    dataSchema: StructType, caseSensitive: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangeFilePartition]
    val rel = "data/" + p.absPath.substring(p.absPath.lastIndexOf('/') + 1)
    val meta = new GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(rel)))
    val inner = new ChangeFileReader(p, dataSchema, caseSensitive)
    new PartitionReader[InternalRow] {
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = joined(inner.get(), meta)
      override def close(): Unit = inner.close()
    }
  }
}

/** Two-phase GROUP replacement: tasks write immutable files under `data/`
  * (uniquely named — a crashed task's file stays unreferenced and
  * [[TableLog.gcOrphans]] reclaims it), the driver publishes the manifest
  * pinned to the planned-against version, swapping OUT exactly the files
  * the operation's scan enumerated (the runtime group filter narrows that
  * to matched files — a selective UPDATE rewrites O(matched files), not
  * O(table)) and keeping every other live file, its DVs and its stats.
  * Zero-row tasks contribute no file; a replacement that empties the whole
  * table keeps the schema readable via one empty schema-bearing file.
  */
private[sources] class GraftReplaceBatchWrite(
    path: String, basedOn: Long, writeSchema: StructType,
    op: GraftRowLevelOperation) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftRowWriterFactory(path, writeSchema.json)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val moved = messages.toSeq.flatMap {
      case GraftFilesMessage(fs) => fs
      case _ => Seq.empty[String]
    }
    val live = TableLog.liveFiles(path, basedOn).toSet
    val replaced = op.scopedFiles.map(_.intersect(live)).getOrElse(live)
    if (moved.isEmpty && replaced.isEmpty) return // matched nothing: no-op, no version
    if (moved.isEmpty && replaced == live)
      TableLog.commitOverwrite(GraftCatalog.emptyRelationOf(writeSchema), path)
    else
      TableLog.publishReplace(SparkSession.active, path, basedOn, moved, replaced)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftFilesMessage(fs) =>
        fs.foreach(f => Files.deleteIfExists(Paths.get(path).resolve(f)))
      case _ => ()
    }
}

private[sources] case class GraftFilesMessage(files: Seq[String])
  extends WriterCommitMessage

private[sources] class GraftRowWriterFactory(path: String, schemaJson: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftRowDataWriter(path,
      DataType.fromJson(schemaJson).asInstanceOf[StructType])
}

private[sources] class GraftRowDataWriter(path: String, schema: StructType)
    extends DataWriter[InternalRow] {

  private val rel = s"data/${java.util.UUID.randomUUID()}.parquet"
  private val abs = Paths.get(path).resolve(rel)
  Files.createDirectories(abs.getParent)
  private val w = org.apache.spark.sql.graftx.RowParquetWriter.open(abs.toString, schema)
  private var n = 0L

  /** Group-based ReplaceData rows arrive as `[__row_operation:int, data...]`
    * UNLESS the table declares metadata attributes (then Spark's
    * data-and-metadata task strips the prefix itself — the path Iceberg
    * takes; with none declared, the plain task hands the raw row). Strip
    * the operation prefix here with Spark's own ProjectingInternalRow, and
    * verify the operation really is a group-write — any delta-style
    * operation (DELETE/UPDATE/INSERT row markers) reaching a non-delta
    * writer is a contract break worth failing loudly on, never data to
    * write blindly.
    */
  private lazy val opStrip =
    new org.apache.spark.sql.catalyst.ProjectingInternalRow(
      schema, (1 to schema.length).toIndexedSeq)
  private val writeOps = Set(
    org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_OPERATION,
    org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_WITH_METADATA_OPERATION)

  override def write(r: InternalRow): Unit = {
    if (r.numFields == schema.length) w.write(r)
    else {
      require(r.numFields == schema.length + 1 && writeOps(r.getInt(0)),
        s"unexpected row-level write row: ${r.numFields} fields for " +
          s"${schema.length}-column schema (op=${r.getInt(0)})")
      opStrip.project(r)
      w.write(opStrip)
    }
    n += 1
  }

  override def commit(): WriterCommitMessage = {
    w.close()
    if (n == 0L) { Files.deleteIfExists(abs); GraftFilesMessage(Seq.empty) }
    else GraftFilesMessage(Seq(rel))
  }

  override def abort(): Unit = {
    try w.close() catch { case _: Exception => () }
    Files.deleteIfExists(abs)
    ()
  }

  override def close(): Unit = ()
}

/** INSERT INTO (append) / INSERT OVERWRITE (truncate+append) into the table
  * log. The V1 fallback hands the WHOLE query result as one DataFrame, so
  * the write stays distributed (Spark's parquet writer), CHECK constraints
  * observe during the single pass, and the row-count/stat sidecars record —
  * the exact commit path API writers use, now reachable from SQL.
  */
private[sources] class GraftLogWriteBuilder(path: String)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, ignored: Boolean): Unit = {
        // the graft.bucketBy property turns the write into a BUCKETED one
        // (bucket-pure files + per-file bucket ids → the scan reports
        // KeyGroupedPartitioning and co-bucketed joins skip the shuffle);
        // graft.clusterBy instead range-partitions + sorts for predicate
        // skipping. They prescribe conflicting layouts — refuse both.
        val bucket = TableLog.bucketSpec(path)
        bucket.foreach { case (c, _) =>
          require(data.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
            s"${TableLog.BucketByProp} column $c not in write schema " +
              data.schema.fieldNames.mkString(","))
          require(TableLog.tableProps(path).get(TableLog.ClusterByProp).isEmpty,
            s"${TableLog.ClusterByProp} and ${TableLog.BucketByProp} are mutually exclusive")
        }
        val (clustered, clusterStatCols) = TableLog.clusterForWrite(data, path)
        // bucket KEY stats ride along when the type is sidecar-indexable:
        // within a bucket files sort by key, so point lookups skip too
        val statCols = (clusterStatCols ++ bucket.toSeq.map(_._1).filter(c =>
          data.schema.find(_.name.equalsIgnoreCase(c))
            .exists(f => TableLog.Stats.indexable(f.dataType)))).distinct
        if (overwrite) TableLog.commitOverwrite(clustered, path, statCols, bucket)
        else TableLog.commitAppend(clustered, path, statCols, bucket)
        ()
      }
    }
  }
}

/** Renders a pushed V1 filter tree back to ONE Spark SQL condition string —
  * the form [[TableLog.deleteWhere]] takes. Sound by construction: a filter
  * that cannot be rendered EXACTLY makes the whole translation fail (None),
  * which surfaces as a loud analysis error, never an over- or under-delete.
  * Value rendering is restricted to types whose text form round-trips
  * (strings escaped, integrals, booleans, decimals via plain-string, float/
  * double via an exact CAST-from-string); date/timestamp literals are
  * rejected — their text forms are session-zone-sensitive.
  */
private[sources] object SqlFilterText {
  import org.apache.spark.sql.sources._

  def render(filters: Array[Filter], schema: StructType): Option[String] =
    if (filters.isEmpty) Some("true")
    else {
      val parts = filters.map(one(_, schema))
      if (parts.exists(_.isEmpty)) None
      else Some(parts.flatten.map(p => s"($p)").mkString(" AND "))
    }

  private def col(name: String, schema: StructType): Option[String] =
    // top-level columns only (the scalar/array read path has no nested
    // fields to delete by), and backtick-quote so no name can splice syntax
    if (schema.fieldNames.contains(name) && !name.contains("`"))
      Some(s"`$name`")
    else None

  private def lit(v: Any): Option[String] = v match {
    case null => None // null literals only flow via IsNull/IsNotNull
    case s: String =>
      Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
    case b: Boolean => Some(b.toString)
    case n: Byte => Some(n.toString)
    case n: Short => Some(n.toString)
    case n: Int => Some(n.toString)
    case n: Long => Some(s"${n}L")
    case d: java.math.BigDecimal => Some(d.toPlainString + "BD")
    case d: scala.math.BigDecimal => Some(d.underlying.toPlainString + "BD")
    // string→double/float parse is correctly rounded: exact round-trip
    case d: Double => Some(s"CAST('${d}' AS DOUBLE)")
    case f: Float => Some(s"CAST('${f}' AS FLOAT)")
    case _ => None // dates/timestamps/binary: text forms don't round-trip safely
  }

  private def bin(c: String, op: String, v: Any, schema: StructType): Option[String] =
    for (cc <- col(c, schema); lv <- lit(v)) yield s"$cc $op $lv"

  private def one(f: Filter, s: StructType): Option[String] = f match {
    case AlwaysTrue() => Some("true")
    case AlwaysFalse() => Some("false")
    case EqualTo(c, v) => bin(c, "=", v, s)
    case EqualNullSafe(c, v) =>
      if (v == null) col(c, s).map(cc => s"$cc IS NULL")
      else bin(c, "<=>", v, s)
    case GreaterThan(c, v) => bin(c, ">", v, s)
    case GreaterThanOrEqual(c, v) => bin(c, ">=", v, s)
    case LessThan(c, v) => bin(c, "<", v, s)
    case LessThanOrEqual(c, v) => bin(c, "<=", v, s)
    case In(c, vs) if vs.nonEmpty =>
      val ls = vs.map(lit)
      if (ls.exists(_.isEmpty)) None
      else col(c, s).map(cc => s"$cc IN (${ls.flatten.mkString(", ")})")
    case IsNull(c) => col(c, s).map(cc => s"$cc IS NULL")
    case IsNotNull(c) => col(c, s).map(cc => s"$cc IS NOT NULL")
    case And(l, r) => for (ls <- one(l, s); rs <- one(r, s)) yield s"($ls) AND ($rs)"
    case Or(l, r) => for (ls <- one(l, s); rs <- one(r, s)) yield s"($ls) OR ($rs)"
    case Not(ch) => one(ch, s).map(cs => s"NOT ($cs)")
    case StringStartsWith(c, p) => for (cc <- col(c, s); lp <- lit(p))
      yield s"startswith($cc, $lp)"
    case StringEndsWith(c, p) => for (cc <- col(c, s); lp <- lit(p))
      yield s"endswith($cc, $lp)"
    case StringContains(c, p) => for (cc <- col(c, s); lp <- lit(p))
      yield s"contains($cc, $lp)"
    case _ => None
  }
}

private[sources] class GraftLogScanBuilder(path: String, v: Long, full: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownFilters {

  private var required: StructType = full
  private var pushedAgg: Option[(StructType, Array[Any])] = None
  private var pushedSkips: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var keepFiles: Option[Set[String]] = None
  private var rowGroupRanges: Map[String, (Long, Long)] = Map.empty
  private var strRowGroupRanges: Map[String, (Option[String], Option[String])] = Map.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** FILE SKIPPING from the log's metadata indexes: comparison filters
    * consult the per-file min/max stats sidecar, equality/IN additionally
    * the per-file Bloom sidecar — so a selective SQL predicate over a
    * clustered (or bloom-indexed) log table reads O(matching files), not
    * O(table), exactly like [[TableLog.readPruned]] /
    * [[TableLog.readPointLookup]] but decided by Catalyst's pushdown.
    * EVERY filter is also returned as a residual (rows re-filtered
    * post-scan), so skipping only needs to be SOUND (keep any file that
    * might match; sidecar-less files are always kept). Range bounds stay
    * inclusive — conservative at the boundary, immune to overflow.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val all = TableLog.liveFiles(path, v).toSet
    var kept: Set[String] = all
    val used = scala.collection.mutable.ArrayBuffer.empty[Filter]
    // per-column [lo, hi] envelopes for ROW-GROUP skipping inside kept
    // files — sourced from each file's own footer stats at read time, so
    // EVERY comparison filter contributes, sidecar-indexed or not
    val rgRanges = scala.collection.mutable.Map.empty[String, (Long, Long)]
    // Row-group envelopes are sound only for TOP-LEVEL columns: the reader's
    // absent-column sentinel treats an unmatched name as "no row matches"
    // (correct for schema-evolved top-level columns, which ARE null in older
    // files). DSv2 also pushes NESTED predicates under dotted names
    // ("s.x" via nestedPredicatePushdownEnabled) — those never resolve
    // against a footer's top-level fields, so recording them would skip
    // every row group of every file. Drop them here; they stay residual.
    def noteRange(c: String, lo: Long, hi: Long): Unit =
      if (full.fieldNames.exists(_.equalsIgnoreCase(c))) {
        val cur = rgRanges.getOrElse(c, (Long.MinValue, Long.MaxValue))
        rgRanges(c) = (math.max(cur._1, lo), math.min(cur._2, hi))
      }
    // STRING row-group envelopes (unsigned UTF-8 byte order everywhere —
    // the collation the sidecar, Spark, and parquet footers share); None =
    // unbounded on that side
    val rgStrRanges =
      scala.collection.mutable.Map.empty[String, (Option[String], Option[String])]
    def utf8Max(a: String, b: String): String = if (Utf8.gteq(Utf8(a), Utf8(b))) a else b
    def utf8Min(a: String, b: String): String = if (Utf8.lteq(Utf8(a), Utf8(b))) a else b
    def noteStrRange(c: String, lo: Option[String], hi: Option[String]): Unit =
      if (full.fieldNames.exists(_.equalsIgnoreCase(c))) {
        val (cl, ch) = rgStrRanges.getOrElse(c, (None: Option[String], None: Option[String]))
        val nl = (cl, lo) match {
          case (Some(a), Some(b)) => Some(utf8Max(a, b))
          case (a, b) => a.orElse(b)
        }
        val nh = (ch, hi) match {
          case (Some(a), Some(b)) => Some(utf8Min(a, b))
          case (a, b) => a.orElse(b)
        }
        rgStrRanges(c) = (nl, nh)
      }
    def longOf(x: Any): Option[Long] = x match {
      case n: Long => Some(n)
      case n: Int => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Byte => Some(n.toLong)
      case _ => None
    }
    // bloom values are indexed via CAST(col AS STRING): integral and string
    // renderings are stable across that cast, other types are not pushed
    def strOf(x: Any): Option[String] = x match {
      case s: String => Some(s)
      case other => longOf(other).map(_.toString)
    }
    def statRange[T](c: String, lo: Option[T], hi: Option[T])(
        implicit kind: TableLog.Stats.Kind[T]): Boolean =
      TableLog.hasStatsFor(path, v, c, kind) && {
        kept = kept.intersect(
          TableLog.prunedFiles(path, c, lo, hi, Some(v))._1.toSet)
        true
      }
    // only ACTUAL string literals qualify for string-stats comparisons —
    // a numeric value rendered to text would compare in the wrong collation
    def strOnly(x: Any): Option[String] = x match {
      case s: String => Some(s)
      case _ => None
    }
    def strRange(c: String, lo: Option[String], hi: Option[String]): Boolean =
      statRange(c, lo.map(Utf8(_)), hi.map(Utf8(_)))
    def bloomEq(c: String, s: String): Boolean =
      TableLog.hasBloomFor(path, c) && {
        kept = kept.intersect(
          TableLog.pointLookupFiles(path, c, s, Some(v))._1.toSet)
        true
      }
    // BUCKET pruning: a point predicate on the bucket column keeps exactly
    // that bucket's files — the skip a hash layout needs (key RANGES
    // scatter across every file, so min/max stats can't prune them; bucket
    // arithmetic can). Type discipline is strict: the literal's runtime
    // class must MATCH the column type — a cast-widened literal would
    // murmur-hash under the wrong width and silently drop rows. Sound only
    // when every non-empty live file carries a bucket id.
    def bucketEq(c: String, vals: Seq[Any]): Boolean =
      TableLog.bucketSpec(path).exists { case (bc, n) =>
        bc.equalsIgnoreCase(c) && vals.nonEmpty && vals.length <= 64 && {
          val typeOk = full.fields.find(_.name.equalsIgnoreCase(c))
            .map(_.dataType).exists {
              case LongType => vals.forall(_.isInstanceOf[Long])
              case IntegerType => vals.forall(_.isInstanceOf[Int])
              case StringType => vals.forall(v0 => v0.isInstanceOf[String] ||
                v0.isInstanceOf[org.apache.spark.unsafe.types.UTF8String])
              case _ => false
            }
          val ids = vals.flatMap(TableLog.bucketIdOf(_, n))
          typeOk && ids.length == vals.length && {
            val fb = TableLog.fileBuckets(path)
            val live = TableLog.liveNonEmpty(path, v)
            live.forall(fb.contains) && {
              val want = ids.toSet
              kept = kept.intersect(live.filter(f => want(fb(f))).toSet)
              true
            }
          }
        }
      }
    filters.foreach { f =>
      f match { // row-group envelopes ride along for every comparison shape
        case EqualTo(c, x) =>
          longOf(x).foreach(n => noteRange(c, n, n))
          strOnly(x).foreach(s => noteStrRange(c, Some(s), Some(s)))
        case GreaterThan(c, x) =>
          longOf(x).foreach(n => noteRange(c, n, Long.MaxValue))
          strOnly(x).foreach(s => noteStrRange(c, Some(s), None))
        case GreaterThanOrEqual(c, x) =>
          longOf(x).foreach(n => noteRange(c, n, Long.MaxValue))
          strOnly(x).foreach(s => noteStrRange(c, Some(s), None))
        case LessThan(c, x) =>
          longOf(x).foreach(n => noteRange(c, Long.MinValue, n))
          strOnly(x).foreach(s => noteStrRange(c, None, Some(s)))
        case LessThanOrEqual(c, x) =>
          longOf(x).foreach(n => noteRange(c, Long.MinValue, n))
          strOnly(x).foreach(s => noteStrRange(c, None, Some(s)))
        case In(c, xs) if xs.nonEmpty =>
          val ns = xs.flatMap(longOf)
          if (ns.length == xs.length) noteRange(c, ns.min, ns.max)
          val ss = xs.flatMap(strOnly)
          if (ss.length == xs.length)
            noteStrRange(c, Some(ss.reduce(utf8Min)), Some(ss.reduce(utf8Max)))
        case StringStartsWith(c, p) if p.nonEmpty =>
          // LIKE 'p%' → the band [p, successor(p)); the inclusive high side
          // over-keeps by at most the exact successor — sound
          noteStrRange(c, Some(p), TableLog.prefixUpper(p))
        case _ =>
      }
      val usable = f match {
        case EqualTo(c, x) =>
          val st = longOf(x).exists(n => statRange(c, Some(n), Some(n))) ||
            strOnly(x).exists(s => strRange(c, Some(s), Some(s)))
          val bl = strOf(x).exists(s => bloomEq(c, s))
          val bk = bucketEq(c, Seq(x)) // eager: applies beside stats/bloom
          st || bl || bk
        case GreaterThan(c, x) =>
          longOf(x).exists(n => statRange(c, Some(n), None)) ||
            strOnly(x).exists(s => strRange(c, Some(s), None))
        case GreaterThanOrEqual(c, x) =>
          longOf(x).exists(n => statRange(c, Some(n), None)) ||
            strOnly(x).exists(s => strRange(c, Some(s), None))
        case LessThan(c, x) =>
          longOf(x).exists(n => statRange(c, None, Some(n))) ||
            strOnly(x).exists(s => strRange(c, None, Some(s)))
        case LessThanOrEqual(c, x) =>
          longOf(x).exists(n => statRange(c, None, Some(n))) ||
            strOnly(x).exists(s => strRange(c, None, Some(s)))
        case In(c, xs) if xs.nonEmpty =>
          val ns = xs.flatMap(longOf)
          val st = ns.length == xs.length && statRange(c, Some(ns.min), Some(ns.max))
          val ss0 = xs.flatMap(strOnly)
          val sst = ss0.length == xs.length &&
            strRange(c, Some(ss0.reduce(utf8Min)), Some(ss0.reduce(utf8Max)))
          val bk = bucketEq(c, xs.toSeq) // per-value bucket union
          val ss = xs.flatMap(strOf)
          val bl = ss.length == xs.length && TableLog.hasBloomFor(path, c) && {
            // a file survives if it may contain ANY of the listed values —
            // ONE sidecar read tests the whole set (bloomFilesForAny)
            kept = kept.intersect(
              TableLog.bloomFilesForAny(path, c, ss.distinct.toSeq, Some(v)).toSet)
            true
          }
          st || sst || bl || bk
        case StringStartsWith(c, p) if p.nonEmpty =>
          strRange(c, Some(p), TableLog.prefixUpper(p))
        case _ => false
      }
      if (usable) used += f
    }
    pushedSkips = used.toArray
    keepFiles = if (kept == all) None else Some(kept)
    rowGroupRanges = rgRanges.toMap
    strRowGroupRanges = rgStrRanges.toMap
    filters // all residual: exact row filtering always happens post-scan
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushedSkips

  /** Ungrouped `count(*)` / `min(c)` / `max(c)` (any mix) answer from
    * METADATA alone — COMPLETE pushdown, zero data files read: the count
    * from the recorded per-file row counts minus DV rows, the extremes
    * from the stats sidecar via [[TableLog.statBounds]] (defined only
    * under full per-file coverage and no DVs — its soundness conditions).
    * Values are emitted in the COLUMN's own integral type, since Spark
    * types `min(int)` as int. (Spark only offers the aggregate when every
    * filter was pushed; this source pushes none as exact, so a filtered
    * aggregate correctly stays a scan.)
    */
  private def metadataAgg(agg: Aggregation): Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty)
      return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          full.fields.find(_.name.equalsIgnoreCase(r.fieldNames.head))
        case _ => None
      }
    def narrowed(x: Long, t: DataType): Option[Any] = t match {
      case LongType => Some(x)
      case IntegerType => Some(x.toInt)
      case org.apache.spark.sql.types.ShortType => Some(x.toShort)
      case org.apache.spark.sql.types.ByteType => Some(x.toByte)
      case _ => None // stats are long-valued; other types never indexed
    }
    // a STRING column's extremes are already Spark's string values
    def extremes(f: StructField): Option[(Any, Any)] = f.dataType match {
      case StringType => TableLog.statBounds[UTF8String](path, v, f.name)
      case t => TableLog.statBounds[Long](path, v, f.name).flatMap { case (lo, hi) =>
        for (a <- narrowed(lo, t); b <- narrowed(hi, t)) yield (a, b) }
    }
    val cols = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        TableLog.metadataCount(path, Some(v))
          .map(n => (StructField("count(*)", LongType, nullable = false), n: Any))
      case m: org.apache.spark.sql.connector.expressions.aggregate.Min =>
        colOf(m.column).flatMap(f => extremes(f).map(b =>
          (StructField(s"min(${f.name})", f.dataType, nullable = true), b._1)))
      case m: org.apache.spark.sql.connector.expressions.aggregate.Max =>
        colOf(m.column).flatMap(f => extremes(f).map(b =>
          (StructField(s"max(${f.name})", f.dataType, nullable = true), b._2)))
      case _ => None
    }
    if (cols.exists(_.isEmpty)) None
    else Some((StructType(cols.map(_.get._1)), cols.map(_.get._2).toArray))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    metadataAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = metadataAgg(agg)
    pushedAgg.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, row)) => new GraftMetaScan(schema, Array(row))
    case None =>
      new GraftLogScan(path, v, required, keepFiles, options, rowGroupRanges,
        strRowGroupRanges)
  }
}

/** Snapshot scan: one partition per live data file, DV positions shipped as
  * metadata-sized sorted skip lists, rows decoded by the change source's
  * per-file reader (no change-meta columns requested → pure data rows).
  * Reports metadata-exact statistics so join planning (broadcast side
  * choice) runs on real numbers.
  */
/** Spark re-instantiates CustomMetric classes REFLECTIVELY on the driver
  * (zero-arg constructor required) — an anonymous class carries an outer
  * pointer and is silently dropped from the UI with a logged error, so the
  * metric must be a top-level class.
  */
private[sources] class RowGroupsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowGroupsSkipped"
  override def description(): String = "row groups skipped by footer stats"
}

private[sources] class GraftLogScan(path: String, v: Long, required: StructType,
    keepFiles: Option[Set[String]] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    rowGroupRanges: Map[String, (Long, Long)] = Map.empty,
    strRowGroupRanges: Map[String, (Option[String], Option[String])] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering with SupportsReportPartitioning
    with SupportsReportOrdering {

  /** see [[GraftLogTable.logPath]] — the post-pushdown twin for [[MatViewRewrite]] */
  private[sources] def logPath: String = path
  private[sources] def logVersion: Long = v

  /** bucketed-layout evidence: Some((col, n, file→bucket)) iff the table
    * declares `graft.bucketBy`, the bucket column survives projection (the
    * reported transform must resolve against the scan OUTPUT), and EVERY
    * live file at this version has a recorded bucket id — files written
    * outside the bucketed path (row-level rewrites, compactions) have
    * none, and degrading to unknown partitioning is always sound. DVs
    * don't matter: deletes never move a surviving row between buckets.
    */
  /** row-level operation scans (DELETE/UPDATE/MERGE rewrites) opt OUT:
    * their reader factory is file-tagged and their file enumeration IS the
    * replacement scope — bucket-grouping partitions would break both
    */
  protected def allowBucketedPlanning: Boolean = true

  private lazy val bucketInfo: Option[(String, Int, Map[String, Int])] =
    if (!allowBucketedPlanning) None
    else TableLog.bucketSpec(path).flatMap { case (c, n) =>
      // zero-row files (CREATE TABLE's schema-bearing v0, evolution
      // commits) are coverage-EXEMPT: they hold no rows, so they belong to
      // every bucket vacuously and simply drop out of the groups
      val live = TableLog.liveNonEmpty(path, v)
      val fb = TableLog.fileBuckets(path)
      // fileOrd < 0: a `_file`-projecting scan reads through the
      // file-tagged factory, which is per-file by construction
      if (fileOrd < 0 && live.nonEmpty && live.forall(fb.contains) &&
        required.fieldNames.exists(_.equalsIgnoreCase(c)))
        Some((c, n, fb))
      else None
    }

  /** storage-partitioned joins: a bucketed table reports
    * `KeyGroupedPartitioning(bucket(n, col))` with exactly `n` groups
    * (empty buckets still emit a partition, so two co-bucketed sides
    * always present identical group sets) — under
    * `spark.sql.sources.v2.bucketing.enabled` Spark then plans their
    * equi-join on the bucket column with ZERO shuffle
    */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketInfo match {
      case Some((c, n, _)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** SORT-free merge joins on top of shuffle-free ones: every bucketed
    * write sorts its files by the bucket key (ascending, nulls first —
    * Spark's default sort), so while a bucket holds at most ONE file its
    * partition really arrives key-ordered and the scan says so. More than
    * one file per bucket (appends since the last OVERWRITE) concatenates
    * sorted runs — NOT sorted — so the claim is withdrawn; DV subtraction
    * and row-group skipping preserve order and don't matter.
    */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    bucketInfo match {
      case Some((c, _, fb)) if TableLog.liveNonEmpty(path, v)
          .groupBy(fb).forall(_._2.size <= 1) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }

  /** runtime-filtered file subset (row-level scans override) */
  protected def extraKeep: Option[Set[String]] = None

  /** JOIN-KEY runtime skipping (the lakehouse answer to dynamic partition
    * pruning, with sidecars instead of directories): the scan advertises
    * its stat/bloom-indexed columns, and when this side joins a selective
    * build side on one of them, Spark hands the build side's VALUES here
    * before partition planning — the sidecar lookups then keep only files
    * that may contain any of them. Sound (never drops a possible match);
    * the join itself still filters exactly.
    */
  @volatile private var joinKeep: Option[Set[String]] = None

  /** post-execution observability for specs: the runtime-kept file set */
  private[sources] def runtimeKept: Option[Set[String]] = joinKeep

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    TableLog.runtimeFilterableCols(path, v)
      // Spark resolves these against the PRUNED scan output — advertising
      // a projected-away column is an analysis error, not a no-op
      .filter(c => required.fieldNames.exists(_.equalsIgnoreCase(c)))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def longOf(x: Any): Option[Long] = x match {
      case n: Long => Some(n)
      case n: Int => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Byte => Some(n.toLong)
      case _ => None
    }
    def strOf(x: Any): Option[String] = x match {
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case other => longOf(other).map(_.toString)
    }
    def keepFor(c: String, vals: Seq[Any]): Option[Set[String]] = {
      // bucket-id runtime skip: build-side values on the BUCKET column map
      // to their buckets (driver murmur3 twin) and only those buckets'
      // files survive — the runtime skip a hash layout needs, since
      // scattered key ranges defeat the stats sidecar. Same strictness as
      // plan-time bucket pruning: literal class must match the column
      // type, every non-empty live file must carry a bucket id.
      val byBucket: Option[Set[String]] =
        TableLog.bucketSpec(path).flatMap { case (bc, n) =>
          val typeOk = bc.equalsIgnoreCase(c) && vals.nonEmpty &&
            vals.length <= 65536 &&
            required.fields.find(_.name.equalsIgnoreCase(c))
              .map(_.dataType).exists {
                case LongType => vals.forall(_.isInstanceOf[Long])
                case IntegerType => vals.forall(_.isInstanceOf[Int])
                case StringType => vals.forall(x =>
                  x.isInstanceOf[org.apache.spark.unsafe.types.UTF8String] ||
                    x.isInstanceOf[String])
                case _ => false
              }
          if (!typeOk) None
          else {
            val ids = vals.flatMap(TableLog.bucketIdOf(_, n))
            val fb = TableLog.fileBuckets(path)
            val live = TableLog.liveNonEmpty(path, v)
            if (ids.length == vals.length && live.forall(fb.contains)) {
              val want = ids.toSet
              Some(live.filter(f => want(fb(f))).toSet)
            } else None
          }
        }
      val byEvidence = keepForEvidence(c, vals)
      (byBucket, byEvidence) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
    }
    def keepForEvidence(c: String, vals: Seq[Any]): Option[Set[String]] = {
      // STAT ranges in the values' own kind: per-value point ranges for
      // small sets, one [min, max] envelope for huge IN lists (driver-side
      // lookups must stay bounded)
      def byStats[T](ps: Seq[T])(implicit kind: TableLog.Stats.Kind[T]): Option[Set[String]] =
        if (ps.length == vals.length && TableLog.hasStatsFor(path, v, c, kind)) Some(
          if (ps.length > 64)
            TableLog.prunedFiles(path, c, Some(ps.min(kind)), Some(ps.max(kind)), Some(v))._1.toSet
          else ps.toSet.flatMap((p: T) =>
            TableLog.prunedFiles(path, c, Some(p), Some(p), Some(v))._1))
        else None
      byStats(vals.flatMap(longOf(_)))
        .orElse(byStats(vals.collect { case s: UTF8String => s }))
        .orElse {
          val strs = vals.flatMap(strOf(_))
          // one sidecar read tests every value (bloomFilesForAny), so the
          // cap only bounds the driver-side md5 hashing of the key set
          if (strs.length == vals.length && strs.length <= 65536 &&
            TableLog.hasBloomFor(path, c))
            Some(TableLog.bloomFilesForAny(path, c, strs.distinct, Some(v)).toSet)
          else None
        }
    }
    val keeps = predicates.flatMap { p =>
      val vals = p.children().collect { case l: Literal[_] => l.value(): Any }
      p.children().headOption.collect {
        case r: NamedReference if r.fieldNames.length == 1 &&
          (p.name() == "IN" || p.name() == "=") &&
          vals.length == p.children().length - 1 && vals.nonEmpty =>
          keepFor(r.fieldNames.head, vals.toSeq)
      }.flatten
    }
    if (keeps.nonEmpty) joinKeep = Some(keeps.reduce(_ intersect _))
  }

  /** live files after metadata file-skipping (None = no skipping filter) */
  protected def files: Seq[String] = {
    val base = keepFiles match {
      case None => TableLog.liveFiles(path, v)
      case Some(k) => TableLog.liveFiles(path, v).filter(k)
    }
    val afterExtra = extraKeep match {
      case None => base
      case Some(k) => base.filter(k)
    }
    joinKeep match {
      case None => afterExtra
      case Some(k) => afterExtra.filter(k)
    }
  }

  /** `_file` is synthesized per partition, never read from parquet; Spark
    * appends metadata columns after the data output, so it can only trail
    */
  private val fileOrd = required.fieldNames.indexOf(GraftCatalog.FileCol)
  require(fileOrd == -1 || fileOrd == required.length - 1,
    s"metadata column ${GraftCatalog.FileCol} must trail the data columns in $required")
  private val dataSchema =
    if (fileOrd < 0) required else StructType(required.fields.dropRight(1))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val total = TableLog.liveFiles(path, v).size
    s"GraftLogScan($path@v$v, files=${files.size}/$total)"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val dvs = TableLog.dvFiles(path, v)
    val skip: Map[String, Array[Long]] =
      if (dvs.isEmpty) Map.empty
      else SparkSession.active.read
        .parquet(dvs.map(f => Paths.get(path).resolve(f).toString): _*)
        .select("f", "p").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).sorted }
    val ranges = rowGroupRanges.toArray.map { case (c, (lo, hi)) => (c, lo, hi) }
      .sortBy(_._1)
    val strRanges = strRowGroupRanges.toArray
      .map { case (c, (lo, hi)) => (c, lo, hi) }.sortBy(_._1)
    def mk(f: String): ChangeFilePartition =
      ChangeFilePartition(Paths.get(path).resolve(f).toString, insert = true, v,
        skip = skip.getOrElse(f, Array.empty), only = null,
        ranges = ranges, strRanges = strRanges)
    bucketInfo match {
      case Some((_, n, fb)) =>
        // one partition per bucket (metadata skipping may have emptied
        // some — they still emit, keeping the reported n groups exact)
        val fs = files
        (0 until n).map(b =>
          GraftBucketPartition(
            fs.filter(f => fb.get(f).contains(b)).map(mk).toArray, b)
            : InputPartition).toArray
      case None => files.map(mk(_): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (fileOrd < 0) {
      // VECTORIZED path (scan-level, all-or-none — Spark refuses mixed
      // row/columnar partitions): a vectorizable schema (flat primitives,
      // or nested arrays/structs/maps over them — SPARK-34863), the plain
      // scan class (row-level operation scans keep the position-exact row
      // reader), and not conf-disabled. DV-bearing snapshots stay columnar
      // through the survivor-compacting reader for FLAT schemas only (the
      // typed compact copy doesn't cover nested vectors); nested + DVs
      // falls back to the Group row reader. Everything else rows.
      def conf(key: String, dflt: Boolean): Boolean =
        try SparkSession.active.conf.get(key, dflt.toString).toBoolean
        catch { case scala.util.control.NonFatal(_) => dflt }
      import org.apache.spark.sql.graftx.VectorizedLogReader
      val flat = VectorizedLogReader.flatSchema(required)
      val vec = flat ||
        (conf("spark.graft.columnar.nested.enabled", dflt = true) &&
          VectorizedLogReader.nestedSchema(required))
      val dvOk = flat && conf("spark.graft.columnar.dv.enabled", dflt = true)
      val columnar =
        getClass == classOf[GraftLogScan] && vec &&
          (dvOk || TableLog.dvFiles(path, v).isEmpty) &&
          conf("spark.graft.columnar.enabled", dflt = true)
      new ChangeFileReaderFactory(required, TableChangeSource.caseSensitive,
        columnar, allowColumnarDv = dvOk)
    } else new FileTaggedReaderFactory(dataSchema, TableChangeSource.caseSensitive)

  /** row groups skipped by footer stats, surfaced in the Spark UI per scan */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new RowGroupsSkippedMetric)

  /** `spark.readStream.table("graft.<t>")` — the table as an APPEND feed:
    * each commit's new rows arrive as one admission-capped micro-batch
    * (the change-feed stream underneath, checkpointed offsets = commit
    * versions). Non-append commits are a LOUD error by default — a DV
    * delete or a compaction would otherwise silently skew the stream;
    * `.option("ignoreChanges", true)` opts into skipping delete deltas
    * (re-added rows of a rewrite still re-emit — the same contract as
    * Delta's streaming source). `.option("startingVersion", n)` skips
    * history; `.option("versionsPerTrigger", n)` paces admission.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftAppendStream(
      new TableChangeStream(
        table = path,
        readSchema = required,
        startingVersion =
          Option(options.get("startingVersion")).map(_.toLong).getOrElse(-1L),
        versionsPerTrigger =
          Option(options.get("versionsPerTrigger")).map(_.toInt).getOrElse(1),
        targetBatchMs =
          Option(options.get("targetBatchMs")).map(_.toLong)),
      path,
      ignoreChanges = Option(options.get("ignoreChanges")).exists(_.toBoolean))

  override def estimateStatistics(): Statistics = new Statistics {
    // post-skipping sizes: the fewer files a pushed filter keeps, the
    // smaller (and more broadcastable) this relation reports itself
    override def sizeInBytes(): OptionalLong = OptionalLong.of(
      files.map(f => Files.size(Paths.get(path).resolve(f))).sum)
    override def numRows(): OptionalLong =
      if (keepFiles.isEmpty)
        TableLog.metadataCount(path, Some(v))
          .map(OptionalLong.of).getOrElse(OptionalLong.empty())
      else OptionalLong.empty()
  }
}


/** Iceberg-style metadata tables over the log, driver-computed (manifests,
  * sidecars and file sizes only — no data file is opened):
  *
  *   graft.t.history — one row per commit ≤ the pinned version: version,
  *     committed_at (manifest publish instant), operation (append /
  *     overwrite / rewrite / delete / truncate / metadata, classified
  *     from the manifest diff), n_files, n_dv_files, n_live_rows (the
  *     metadata count, NULL where counts predate recording), txn tag.
  *   graft.t.files — one row per file LIVE at the pinned version: path,
  *     rows (recorded count), bytes.
  *
  * Both respect `VERSION AS OF` (the pin is the base table's version), so
  * `SELECT * FROM graft.t.files VERSION AS OF 3` lists v3's snapshot.
  */
private[sources] class GraftMetaTable(ident: String, path: String, v: Long,
    kind: String) extends Table with SupportsRead {

  override def name(): String = ident

  override lazy val schema: StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_dv_files", IntegerType, nullable = false),
      StructField("n_live_rows", LongType, nullable = true),
      StructField("txn", StringType, nullable = true)))
    case "refs" => StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case _ => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("bytes", LongType, nullable = false)))
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftMetaScan(schema, computeRows())
    }

  private def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  private def computeRows(): Array[Array[Any]] = kind match {
    case "history" =>
      val vs = TableLog.versions(path)
      vs.filter(_ <= v).map { w =>
        val d = TableLog.stepDiff(path, w, vs)
        val op =
          if (d.added.isEmpty && d.removed.isEmpty)
            if (d.curDv != d.prevDv) "delete" else "metadata"
          else if (d.removed.isEmpty) "append"
          else if (d.added.isEmpty) "truncate"
          else if (d.persisting.isEmpty) "overwrite"
          else "rewrite"
        Array[Any](w, TableLog.versionCommitTimeMicros(path, w), utf8(op),
          TableLog.liveFiles(path, w).size,
          TableLog.dvFiles(path, w).size,
          TableLog.metadataCount(path, Some(w)).map(Long.box).orNull,
          Some(TableLog.txnsAt(path, w)).filter(_.nonEmpty)
            .map(t => utf8(t.mkString(","))).orNull)
      }.toArray
    case "refs" =>
      TableLog.refs(path).toSeq.sortBy(_._1).map { case (t, w) =>
        Array[Any](utf8(t), w)
      }.toArray
    case _ =>
      val counts = TableLog.fileRowCounts(path)
      TableLog.liveFiles(path, v).map { f =>
        Array[Any](utf8(f), counts.get(f).map(Long.box).orNull,
          Files.size(Paths.get(path).resolve(f)))
      }.toArray
  }
}

/** one-partition scan carrying driver-computed metadata rows */
private[sources] class GraftMetaScan(out: StructType, rows: Array[Array[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMetadataScan(${out.fieldNames.mkString(",")}, rows=${rows.length})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftRowsPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[GraftRowsPartition].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            cur = new GenericInternalRow(it.next()); true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

private[sources] case class GraftRowsPartition(rows: Array[Array[Any]])
  extends InputPartition

/** `bucket(n, key)` — the layout function behind `graft.bucketBy` tables:
  * `pmod(murmur3(key, seed 42), n)`, EXACTLY the value the write path's
  * `pmod(hash(col), n)` computes (Spark's `hash` is the same murmur3 with
  * the same seed), so the bucket id Spark would derive by evaluating this
  * function always agrees with the persisted per-file bucket ids. The
  * bound functions' `canonicalName` is what `EnsureRequirements` compares
  * to decide two scans' `KeyGroupedPartitioning`s are compatible — same
  * key type + same bucket count → co-partitioned → no shuffle.
  */
private[sources] object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.unsafe.hash.Murmur3_x86_32

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, key): pmod(murmur3(key, seed 42), numBuckets) — graft bucketed-table layout"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, key); got $inputType")
    inputType.fields(1).dataType match {
      case LongType => BucketLong
      case IntegerType => BucketInt
      case StringType => BucketStr
      case t => throw new UnsupportedOperationException(
        s"graft bucket supports BIGINT/INT/STRING keys; got $t")
    }
  }

  private def pmod(h: Int, n: Int): Int = { val m = h % n; if (m < 0) m + n else m }

  private[sources] abstract class Bucket(keyType: DataType)
      extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    // key-typed canonical names: an INT and a LONG column hash DIFFERENTLY
    // under murmur3, so cross-type "compatibility" would silently
    // mis-co-partition — distinct names make Spark fall back to a shuffle
    override def canonicalName(): String = s"graft.bucket(${keyType.typeName})"
    override def isResultNullable: Boolean = false
  }
  private[sources] object BucketLong extends Bucket(LongType) {
    override def produceResult(in: InternalRow): Integer =
      pmod(Murmur3_x86_32.hashLong(in.getLong(1), 42), in.getInt(0))
  }
  private[sources] object BucketInt extends Bucket(IntegerType) {
    override def produceResult(in: InternalRow): Integer =
      pmod(Murmur3_x86_32.hashInt(in.getInt(1), 42), in.getInt(0))
  }
  private[sources] object BucketStr extends Bucket(StringType) {
    override def produceResult(in: InternalRow): Integer = {
      val s = in.getUTF8String(1)
      pmod(Murmur3_x86_32.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 42), in.getInt(0))
    }
  }
}
