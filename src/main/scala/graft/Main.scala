package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import scala.util.control.NonFatal

/** User-facing CLI (SURVEY.md §7.1): `ingest | query | list | bench`.
  *
  *   ingest <route> <apiParquet> <outPath> <start> <end>  — E1 batch grid
  *     ingest (route = candles | trades | order_book): read API-shaped
  *     records, write window-partitioned parquet (see [[ingest.BatchIngest]])
  *   stream <srcDir> <tablesDir> <ckptDir> [follow] — checkpointed streaming
  *     consumer (E2): drain available frames once, or follow continuously
  *   query <name> [sfDir]  — run one registered query and print it
  *   sql <statement> [sfDir] — register the testdata tables as views and run
  *     arbitrary Spark SQL against them (Catalyst parse → optimize → codegen)
  *   serve [sfDir] [port] [tableLogRoot] — resident HiveServer2 Thrift/JDBC
  *     endpoint over the tables + §2 analysis views (see [[Serve]]) — the
  *     reference's always-on Grafana→ClickHouse serving path; with a
  *     table-log root, committed tables serve as snapshot-isolated reads
  *   compact <tableDir> <partitionCol> [targetBytes] — partition-local
  *     small-file compaction (see [[sources.Compaction]])
  *   optimize <tableLogDir> [nFiles] — compact a table-log table's latest
  *     snapshot into a new atomic version (see [[sources.TableLog.optimize]]);
  *   optimize <tableLogDir> zorder <colA> <colB> [nFiles] — compact AND
  *     re-cluster by the Morton interleave with a fresh stats sidecar
  *     (see [[sources.TableLog.optimizeZOrder]])
  *   zorder <inParquet> <outPath> <colA> <colB> [nFiles] — rewrite a table
  *     clustered by the Morton interleave of two numeric columns and write
  *     its min/max skipping manifest (see [[sources.Layout]])
  *   list                  — list registered query names
  *   perf <query...> | audit <query...> | plans <outDir> <tag> <query...> —
  *     measurement verbs, all in the one [[Harness.session]] at
  *     `SPARK_GRAFT_SF_DIR`: cold/warm timings, executed-plan feature
  *     dossiers, formatted plan files
  *   bench                 — delegate to [[Bench]] (one JSON line)
  */
object Main {

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // static conf read only by the thrift server (`serve`): beeline then
      // uses unqualified view names; the global_temp.* registrations in
      // Serve work regardless
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      // native expressions reachable from SQL text (`sql` subcommand)
      .withExtensions(new org.apache.spark.sql.graftx.GraftExtensions)
      .getOrCreate()
    // getOrCreate may return a pre-existing session (tests, REPL) whose
    // build-time extensions differ — register post-hoc, idempotently
    org.apache.spark.sql.graftx.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def known(names: Seq[String]): Boolean =
    names.nonEmpty && names.forall(SparkEntry.queries.contains)

  /** a measurement verb's body, run in the one [[Harness.session]] */
  private def measured(body: SparkSession => Unit): Unit = {
    val spark = Harness.session()
    body(spark)
    spark.stop()
  }

  /** One cold and three warm [[Harness.timed]] runs per query, printed as
    * PERF.md rows between two loadavg lines (append with `>> PERF.md`).
    * For a columnar A/B pass `-Dspark.graft.columnar.enabled=false` (and
    * the `.dv.`/`.nested.` keys) to `tools/run_main.sh`.
    */
  private def perf(spark: SparkSession, names: Seq[String]): Unit = {
    def loadavg: String =
      scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("n/a")
    println(s"Loadavg before `$loadavg`, sf dir `${Harness.sfDir}`, local[${Harness.cpus}].\n")
    println("| query | cold s | warm median s | warm runs |\n|---|---|---|---|")
    names.foreach { n =>
      val cold = Harness.timed(spark, n)
      val warm = Seq.fill(3)(Harness.timed(spark, n)).sorted
      println(f"| $n | $cold%.2f | ${warm(1)}%.2f | ${warm.map(w => f"$w%.2f").mkString(" ")} |")
    }
    println(s"\nLoadavg after `$loadavg`.")
  }

  /** [[PlanAudit.features]] per query: one line each, and the JSON dossier
    * at `SPARK_GRAFT_PLAN_OUT` (default `/tmp/graft_planaudit.json`)
    */
  private def audit(spark: SparkSession, names: Seq[String]): Unit = {
    val rows = names.flatMap { n =>
      try {
        val f = PlanAudit.features(SparkEntry.queries(n)(spark, Harness.sfDir))
        println(f"$n%-24s " + PlanAudit.Keys.map(k => s"$k=${f(k)}").mkString(" "))
        Some(s""""$n":""" + PlanAudit.Keys.map(k => s""""$k":${f(k)}""").mkString("{", ",", "}"))
      } catch { case NonFatal(e) =>
        println(s"$n ERROR ${Harness.reason(e).take(80)}"); None
      }
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "/tmp/graft_planaudit.json")
    Files.write(Paths.get(out),
      rows.mkString("{", ",", "}\n").getBytes(StandardCharsets.UTF_8))
    println(s"[planaudit] wrote ${rows.size} query dossiers to $out")
  }

  /** `explain("formatted")` of each query to `<outDir>/<query>_<tag>.txt` —
    * the evidence files the optimization rounds commit under `plans/rNN/`.
    *
    * A query that ends in [[Localize]] returns a LocalRelation, so its own
    * plan is vacuous: the scope's observer hands over the frame it collects,
    * written to `<query>_inner_<tag>.txt`, and each round step's
    * just-materialized frame, whose executed plan goes to
    * `<query>_round<t>_<tag>.txt`.
    */
  private def plans(spark: SparkSession, outDir: String, tag: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    def write(label: String, file: String, plan: String): Unit = {
      Files.write(Paths.get(s"$outDir/$file"), plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $label -> $outDir/$file (${plan.length} chars)")
    }
    def formatted(df: DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    names.foreach { n =>
      try Localize.observing {
        case (Some(t), df) =>
          write(s"$n round $t", s"${n}_round${t}_$tag.txt", df.queryExecution.executedPlan.toString)
        case (None, df) => write(s"$n (inner)", s"${n}_inner_$tag.txt", formatted(df))
      } {
        write(n, s"${n}_$tag.txt", formatted(SparkEntry.queries(n)(spark, Harness.sfDir)))
      } catch { case NonFatal(e) =>
        println(s"[plandump] $n FAILED: ${Harness.reason(e).take(120)}")
      }
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "ingest" :: route :: api :: out :: start :: end :: Nil =>
      val spark = session()
      val written = ingest.BatchIngest.ingest(spark.read.parquet(api), route, start, end, out)
      // count only this run's windows — the table may hold earlier runs' data
      val n = written.where(
        org.apache.spark.sql.functions.col("timestamp") >= start &&
          org.apache.spark.sql.functions.col("timestamp") < end).count()
      println(s"[graft] ingested $n $route records in [$start, $end) -> $out (table total ${written.count()})")
      spark.stop()
    case "stream" :: src :: tables :: ckpt :: rest =>
      val spark = session()
      // drain-once by default (replayable batch catch-up); pass "follow" to
      // keep consuming micro-batches until killed
      val follow = rest.contains("follow")
      val q = streaming.StreamIngest.start(spark, src, tables, ckpt, availableNow = !follow)
      q.awaitTermination()
      spark.stop()
    case "query" :: name :: rest if SparkEntry.queries.contains(name) =>
      val spark = session()
      val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
      SparkEntry.queries(name)(spark, dir).show(50, truncate = false)
      spark.stop()
    case "query" :: name :: _ =>
      System.err.println(s"unknown query '$name' — see `list`"); sys.exit(1)
    case "explain" :: name :: rest if SparkEntry.queries.contains(name) =>
      val spark = session()
      val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
      spark.stop()
    case "explain" :: name :: _ =>
      System.err.println(s"unknown query '$name' — see `list`"); sys.exit(1)
    case "perf" :: names if known(names) => measured(perf(_, names))
    case "audit" :: names if known(names) => measured(audit(_, names))
    case "plans" :: outDir :: tag :: names if known(names) =>
      measured(plans(_, outDir, tag, names))
    case ("perf" | "audit" | "plans") :: rest if rest.nonEmpty =>
      System.err.println(s"unknown query in '${rest.mkString(" ")}' — see `list`"); sys.exit(1)
    case "sql" :: statement :: rest =>
      val spark = session()
      val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
      Tables.All.foreach { t =>
        if (new java.io.File(s"$dir/$t.parquet").exists())
          Tables.load(spark, dir, t).createOrReplaceTempView(t)
      }
      // optional second arg: a table-log root exposed as the `graft` SQL
      // catalog — `SELECT ... FROM graft.<table> [VERSION AS OF n]`,
      // metadata count(*), stats/bloom file skipping
      rest.drop(1).headOption.foreach { r =>
        spark.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft.root", r)
      }
      spark.sql(statement).show(100, truncate = false)
      spark.stop()
    case "pipe" :: src :: dst :: ckpt :: _ =>
      // materialize the src table log's CHANGE LOG into dst, one txn-tagged
      // commit per micro-batch (change-feed source → graft-log sink):
      // exactly-once, resumable from the checkpoint, zero custom code. The
      // change-type/version columns ride along — dst is the queryable,
      // time-travelable changelog of src (fold it for a mirror)
      val spark = session()
      val q = spark.readStream.format("graft.sources.TableChangeSource")
        .option("table", src).load()
        .writeStream.format("graft-log")
        .option("table", dst)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val vs = sources.TableLog.versions(dst)
      println(s"[pipe] $src -> $dst caught up: ${vs.size} dst versions" +
        sources.TableLog.metadataCount(dst).map(n => s", $n change rows").getOrElse(""))
      spark.stop()
    case "serve" :: rest =>
      val dir  = rest.headOption.getOrElse("/root/testdata/sf0.01")
      val port = rest.drop(1).headOption.map(_.toInt).getOrElse(10000)
      // optional third arg: a table-log root — committed tables under it are
      // served as snapshot-isolated TableLog reads (composes with commits /
      // OPTIMIZE / time travel; see Serve.registerViews)
      val tlog = rest.drop(2).headOption
      // optional fourth arg: comma-separated matview dirs — dashboard
      // aggregates over catalog tables then route to the maintained
      // rollups (the rule rides the extensions below; the conf reaches
      // JDBC child sessions via the context conf in registerViews)
      val mviews = rest.drop(3).headOption
        .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      val spark = session()
      Tables.All.foreach { t =>
        if (new java.io.File(s"$dir/$t.parquet").exists())
          Tables.load(spark, dir, t).createOrReplaceTempView(t)
      }
      Serve.registerViews(spark, dir, tableLogRoot = tlog, matViewPaths = mviews)
      Serve.start(spark, dir, port, tableLogRoot = tlog)
      if (!Serve.awaitPort(port))
        { System.err.println(s"[graft] serve: port $port did not open"); sys.exit(1) }
      println(s"[graft] serving JDBC on jdbc:hive2://localhost:$port — tables " +
        s"${Tables.All.mkString(", ")} (+ global_temp.q_<analysis>); Ctrl-C to stop")
      Thread.currentThread.join()
    case "compact" :: table :: partCol :: rest =>
      val spark = session()
      val target = rest.headOption.map(_.toLong).getOrElse(128L * 1024 * 1024)
      val done = sources.Compaction.compact(spark, table, partCol, target)
      if (done.isEmpty) println(s"[graft] $table already compact")
      else done.foreach { case (dir, before, after) =>
        println(s"[graft] compacted $dir: $before -> $after files")
      }
      spark.stop()
    case "zorder" :: in :: out :: colA :: colB :: rest =>
      val spark = session()
      val nFiles = rest.headOption.map(_.toInt).getOrElse(32)
      val df = spark.read.parquet(in)
      import org.apache.spark.sql.functions.col
      val (table, manifest) = sources.Layout.writeZOrdered(
        df, col(colA), col(colB), out, nFiles)
      val files = spark.read.parquet(manifest).count()
      println(s"[graft] z-ordered ${df.count()} rows by ($colA, $colB) -> $table ($files files, manifest $manifest)")
      spark.stop()
    case "optimize" :: table :: "zorder" :: colA :: colB :: rest =>
      val spark = session()
      val before = sources.TableLog.liveFileCount(table)
      val v = sources.TableLog.optimizeZOrder(
        spark, table, colA, colB, rest.headOption.map(_.toInt).getOrElse(8))
      println(s"[graft] optimized $table zorder($colA, $colB): $before -> ${sources.TableLog.liveFileCount(table)} files (version $v; vacuum to reclaim)")
      spark.stop()
    case "optimize" :: table :: rest =>
      val spark = session()
      val before = sources.TableLog.liveFileCount(table)
      val v = sources.TableLog.optimize(spark, table, rest.headOption.map(_.toInt).getOrElse(1))
      println(s"[graft] optimized $table: $before -> ${sources.TableLog.liveFileCount(table)} files (version $v; vacuum to reclaim)")
      spark.stop()
    case "optimize-size" :: table :: target :: Nil =>
      val spark = session()
      val before = sources.TableLog.liveFileCount(table)
      val v = sources.TableLog.optimizeToSize(spark, table, target.toLong)
      println(s"[graft] optimized $table toward $target B/file: $before -> " +
        s"${sources.TableLog.liveFileCount(table)} files (version $v; vacuum to reclaim)")
      spark.stop()
    case "clone" :: src :: dst :: rest =>
      val v = sources.TableLog.cloneTable(src, dst, rest.headOption.map(_.toLong))
      println(s"[graft] cloned $src -> $dst (zero-copy hard links, new history at v$v)")
    case "analyze" :: table :: cols if cols.nonEmpty =>
      val n = sources.TableLog.buildStatsIndex(table, cols)
      println(s"[graft] analyzed $table: $n (file, column) stat lines at head " +
        "(footer-only; enables file skipping + metadata min/max)")
    case "backup" :: table :: dest :: rest =>
      val spark = session()
      val v = sources.TableLog.backup(spark, table, dest, rest.headOption.map(_.toLong))
      println(s"[graft] backed up $table version $v -> $dest")
      spark.stop()
    case "restore" :: backupDir :: newTable :: Nil =>
      val spark = session()
      val v = sources.TableLog.restore(spark, backupDir, newTable)
      println(s"[graft] restored $backupDir -> $newTable (version $v)")
      spark.stop()
    case "tag" :: table :: Nil =>
      val rs = sources.TableLog.refs(table)
      if (rs.isEmpty) println("[tag] no tags")
      else rs.toSeq.sortBy(_._1).foreach { case (t, v) => println(s"[tag] $t -> v$v") }
    case "tag" :: table :: name :: v :: Nil =>
      sources.TableLog.tagVersion(table, name, v.toLong)
      println(s"[graft] tagged $table@v$v as '$name' (vacuum-protected; " +
        s"readable as VERSION AS OF '$name')")
    case "untag" :: table :: name :: Nil =>
      if (sources.TableLog.untagVersion(table, name))
        println(s"[graft] removed tag '$name' (its version is vacuumable again)")
      else { System.err.println(s"no tag '$name' on $table"); sys.exit(1) }
    case "rollback" :: table :: toV :: Nil =>
      val v = sources.TableLog.rollbackTo(table, toV.toLong)
      println(s"[graft] rolled $table back to version $toV (published as version $v; " +
        "history intact until vacuum)")
    case "diff" :: table :: vA :: vB :: key :: valueCol :: Nil =>
      val spark = session()
      sources.TableLog.diffVersions(spark, table, vA.toLong, vB.toLong, key, valueCol)
        .groupBy("class").count().orderBy("class").collect()
        .foreach(r => println(s"[diff] ${r.getString(0)}: ${r.getLong(1)} keys"))
      spark.stop()
    case "vacuum" :: table :: rest =>
      val keep = rest.filterNot(_ == "apply").headOption.map(_.toInt).getOrElse(1)
      val (dropV, nFiles, bytes) = sources.TableLog.vacuumPlan(table, keep)
      println(s"[vacuum] plan: drop versions ${dropV.mkString("[", ",", "]")}, " +
        s"reclaim $nFiles files / $bytes bytes (keepVersions=$keep)")
      if (rest.contains("apply")) {
        val (dropped, removed) = sources.TableLog.vacuum(table, keep)
        println(s"[vacuum] applied: dropped ${dropped.size} versions, removed $removed files")
      } else println("[vacuum] dry run — pass 'apply' to execute")
    case "delete" :: table :: cond :: Nil =>
      val spark = session()
      val before = sources.TableLog.read(spark, table).count()
      val v = sources.TableLog.deleteWhere(spark, table, cond)
      val after = sources.TableLog.read(spark, table).count()
      println(s"[graft] delete from $table where $cond: " +
        s"${before - after} rows removed via deletion vector (version $v, no files rewritten)")
      spark.stop()
    case "gc" :: table :: Nil =>
      val n = sources.TableLog.gcOrphans(table)
      println(s"[graft] gc $table: removed $n orphaned files")
    case "follow" :: table :: cursorFile :: rest =>
      // one catch-up pass over the unseen commits via the durable-cursor
      // follower (prints per-change-type accounting); pass "restart" to
      // recover a vacuumed cursor from the full snapshot, and
      // "cdc=<k1,k2>" to net rewrite churn into update pre/post images
      val spark = session()
      def report(df: org.apache.spark.sql.DataFrame, from: Long, to: Long): Unit = {
        df.groupBy("_commit_version", "_change_type").count()
          .orderBy("_commit_version", "_change_type").collect()
          .foreach(r => println(s"[follow] v${r.getLong(0)} ${r.getString(1)}: ${r.getLong(2)} rows"))
        println(s"[follow] processed ($from, $to]")
      }
      val restart = rest.contains("restart")
      val r = rest.collectFirst { case s if s.startsWith("cdc=") =>
        s.stripPrefix("cdc=").split(',').toSeq.filter(_.nonEmpty)
      } match {
        case Some(keys) => sources.TableLog.followChangesCdc(
          spark, table, cursorFile, keys, restartOnRetentionExceeded = restart)(report)
        case None => sources.TableLog.followChanges(
          spark, table, cursorFile, restartOnRetentionExceeded = restart)(report)
      }
      if (r.isEmpty) println("[follow] caught up — no new commits")
      spark.stop()
    case "matview" :: "create" :: view :: base :: groups :: aggs :: Nil =>
      // aggs: comma-separated func:col (count:* sum:c min:c max:c)
      val spark = session()
      val specs = aggs.split(',').toSeq.map { a =>
        val Array(f, c) = a.split(":", 2); sources.MatView.AggSpec(f, c)
      }
      val v = sources.MatView.create(spark, view, base, groups.split(',').toSeq, specs)
      println(s"[graft] matview $view@v$v materialized from $base " +
        s"(route with spark.graft.matview.paths=$view)")
      spark.stop()
    case "matview" :: "refresh" :: view :: Nil =>
      val spark = session()
      val (v, mode) = sources.MatView.refresh(spark, view)
      println(s"[graft] matview $view now reflects base v$v ($mode)")
      spark.stop()
    case "txn" :: "recover" :: txnRoot :: Nil =>
      val spark = session()
      val ids = sources.Txn.recover(spark, txnRoot)
      if (ids.isEmpty) println("[graft] txn: nothing to recover")
      else ids.foreach(id => println(s"[graft] txn $id rolled forward"))
      spark.stop()
    case "txn" :: "snapshot" :: txnRoot :: tables :: Nil =>
      sources.Txn.consistentSnapshot(txnRoot, tables.split(',').toSeq)
        .toSeq.sortBy(_._1)
        .foreach { case (t, v) => println(s"[txn] $t @ v$v") }
    case "list" :: Nil =>
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    case "bench" :: Nil =>
      Bench.main(Array.empty)
    case _ =>
      System.err.println(
        "usage: graft ingest <candles|trades|order_book> <apiParquet> <outPath> <start> <end>\n" +
          "       graft stream <srcDir> <tablesDir> <ckptDir> [follow]\n" +
          "       graft query <name> [sfDir]\n" +
          "       graft explain <name> [sfDir]\n" +
          "       graft perf <query...>                — cold + 3 warm timings, PERF.md rows\n" +
          "       graft audit <query...>               — executed-plan feature dossiers\n" +
          "       graft plans <outDir> <tag> <query...> — formatted plan files\n" +
          "       graft sql <statement> [sfDir] [tableLogRoot] — raw tables + graft catalog\n" +
          "       graft pipe <srcTableLog> <dstTableLog> <ckptDir> — change-feed -> log sink\n" +
          "       graft serve [sfDir] [port] [tableLogRoot] [matviewDir,...] — resident JDBC endpoint\n" +
          "       graft compact <tableDir> <partitionCol> [targetBytes]\n" +
          "       graft optimize <tableLogDir> [nFiles] [zorder <colA> <colB> [nFiles]]\n" +
          "       graft zorder <inParquet> <outPath> <colA> <colB> [nFiles]\n" +
          "       graft optimize-size <tableLogDir> <targetBytes> — compact toward a file size\n" +
          "       graft clone <srcTableLog> <dstTableLog> [asOfVersion] — zero-copy shallow clone\n" +
          "       graft analyze <tableLogDir> <col> [col...] — footer-only stats sidecar build\n" +
          "       graft follow <tableLogDir> <cursorFile> [restart] [cdc=<k1,k2>] — catch-up change-feed pass (cdc= nets update images)\n" +
          "       graft rollback <tableLogDir> <version>  — undo to a prior version (new commit)\n" +
          "       graft tag <tableLogDir> [<name> <version>] — list / add a named snapshot (vacuum-protected)\n" +
          "       graft untag <tableLogDir> <name>        — remove a named snapshot\n" +
          "       graft backup <tableLogDir> <destDir> [asOfVersion]\n" +
          "       graft restore <backupDir> <newTableLogDir>\n" +
          "       graft diff <tableLogDir> <vA> <vB> <keyCol> <valueCol> — snapshot version diff\n" +
          "       graft vacuum <tableLogDir> [keep] [apply] — retention dry-run / execute\n" +
          "       graft delete <tableLogDir> <cond>    — deletion-vector DELETE WHERE\n" +
          "       graft gc <tableLogDir>               — reclaim crashed-commit orphans\n" +
          "       graft matview create <viewDir> <baseLogDir> <g1,g2> <count:*,sum:c,...>\n" +
          "       graft matview refresh <viewDir>      — incremental change-feed fold\n" +
          "       graft txn recover <txnRoot>          — roll crashed cross-table txns forward\n" +
          "       graft txn snapshot <txnRoot> <t1,t2> — split-free per-table versions\n" +
          "       graft list\n" +
          "       graft bench")
      sys.exit(1)
  }
}
