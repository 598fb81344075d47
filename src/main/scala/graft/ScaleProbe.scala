package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weak-scaling probe for the iterative query family (round-8 verdict item
  * 4): sf0.1 wall-clock cannot distinguish "pure scheduler overhead" from
  * "superlinear blow-up", so this main manufactures an N× blow-up and
  * measures the N×/1× wall-time ratio per query, writing `SCALEPROBE.md`.
  *
  * Blow-up construction — N DISCONNECTED copies (weak scaling), not row
  * duplication: every key column is remapped `key·N + replica`, so joins,
  * distinct() and graph structure replicate instead of collapsing, and each
  * copy has exactly the original's shape. Document text is salted by
  * replica (every space → a replica-unique token) so cross-replica near-dup
  * candidates are ZERO by construction — duplicate text would make the
  * candidate set quadratic in N, a property of the DATA, not the engine.
  * The 1× BASELINE is generated by the same transformation at N=1, so the
  * per-row cost of the salt is identical on both sides of the ratio and
  * the ratio isolates scale alone.
  *
  * Pass criterion (same as the verdict's): ratio ≤ N × 1.2 per query. The
  * per-round state evidence rides along: kcore's output IS its per-round
  * (survivors, edges) table, recorded at both scales.
  */
object ScaleProbe {

  private def gen(spark: SparkSession, src: String, dir: String, f: Int): Unit = {
    val fs = new java.io.File(dir)
    // SCALEPROBE_REUSE=1: keep previously generated probe datasets (the
    // generation transform is deterministic, so reuse only trades freshness
    // for the ~minutes regeneration costs on a focused re-measure)
    if (sys.env.get("SCALEPROBE_REUSE").contains("1") &&
      new java.io.File(dir, "lineitem.parquet").exists()) return
    Scratch.wipe(dir); fs.mkdirs()
    val rep = explode(sequence(lit(0), lit(f - 1))).as("r")
    def remap(df: DataFrame, keys: Seq[String]): DataFrame = {
      val withR = df.select(col("*"), rep)
      keys.foldLeft(withR)((d, k) =>
        d.withColumn(k, col(k) * f + col("r"))).drop("r")
    }
    remap(Tables.load(spark, src, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .repartition(32).write.parquet(s"$dir/lineitem.parquet")
    remap(Tables.load(spark, src, "orders"), Seq("o_orderkey", "o_custkey"))
      .repartition(32).write.parquet(s"$dir/orders.parquet")
    remap(Tables.load(spark, src, "embeddings"), Seq("vec_id"))
      .repartition(32).write.parquet(s"$dir/embeddings.parquet")
    // replica-salted text: every shingle of copy r contains r's token, so
    // copies of the same document share no shingles (no cross-replica dups)
    Tables.load(spark, src, "documents")
      .select(col("*"), rep)
      .withColumn("doc_id", col("doc_id") * f + col("r"))
      .withColumn("text",
        regexp_replace(col("text"), lit(" "),
          concat(lit(" s"), col("r").cast("string"), lit("x "))))
      .drop("r")
      .repartition(32).write.parquet(s"$dir/documents.parquet")
  }

  /** Round-11 probe: the STREAMING change-feed source under commit-count
    * and file-fanout blow-up. What must hold at scale:
    *  - drain wall-time over a ${f}×-commit log stays ≤ f×1.2 of the 1×
    *    log (the per-version planInputPartitions loop reads only that
    *    commit's manifests/files — cost ∝ commits consumed, never log size);
    *  - an APPEND batch's partition count is FLAT across log sizes (= that
    *    commit's files), while a DV-delete batch's equals the files that
    *    delete touches — per-batch work ∝ touched files by design;
    *  - one commit fanned out to f× more files drains with partitions = the
    *    file count and wall ≤ f×1.2;
    *  - [[graft.streaming.StreamIngest.logToLogRollup]] over a f×-commit
    *    source drains in exactly versions/versionsPerTrigger bounded
    *    batches, each landing one idempotent dst commit.
    */
  private def probeChangeFeed(spark: SparkSession, src: String, factor: Int): String = {
    import graft.sources.TableLog
    import org.apache.spark.sql.streaming.Trigger
    val base = "/tmp/graft_scaleprobe/cdf"
    Scratch.wipe(base)
    new java.io.File(base).mkdirs()

    final case class Drain(sec: Double, batches: Int, appendPartsMax: Int,
        deleteParts: Int)
    def drain(dir: String, tag: String): Drain = {
      val recs = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
      val t0 = System.nanoTime()
      val q = spark.readStream.format("graft.sources.TableChangeSource")
        .option("table", dir).option("versionsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", s"$base/ckpt_$tag")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val hasDelete = b.where(col("_change_type") === "delete").limit(1)
            .count() > 0
          recs += ((b.rdd.getNumPartitions, hasDelete))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Drain((System.nanoTime() - t0) / 1e9, recs.size,
        recs.filterNot(_._2).map(_._1).maxOption.getOrElse(0),
        recs.filter(_._2).map(_._1).maxOption.getOrElse(0))
    }

    // (a) commit-count scaling: V vs factor·V one-file appends + 1 DV delete
    def buildLog(dir: String, commits: Int): Unit = {
      (0 until commits).foreach { i =>
        TableLog.commitAppend(spark.range(i * 1000L, i * 1000L + 1000L)
          .selectExpr("id AS k", "id % 97 AS v").coalesce(1), dir)
      }
      TableLog.deleteWhere(spark, dir, "k % 10 = 0")
      ()
    }
    val v0 = 8
    buildLog(s"$base/logA", v0)
    buildLog(s"$base/logB", v0 * factor)
    val (da, db) = (drain(s"$base/logA", "a"), drain(s"$base/logB", "b"))
    val commitRatio = db.sec / da.sec

    // (b) file-fanout scaling: ONE commit of F vs factor·F files
    val f0 = 4
    TableLog.commitAppend(spark.range(0, 40000).selectExpr("id AS k")
      .repartition(f0), s"$base/fanA")
    TableLog.commitAppend(spark.range(0, 40000).selectExpr("id AS k")
      .repartition(f0 * factor), s"$base/fanB")
    val (fa, fb) = (drain(s"$base/fanA", "fa"), drain(s"$base/fanB", "fb"))
    val fanRatio = fb.sec / fa.sec

    // (c) log-to-log rollup over the factor×-commit orders-shaped source:
    // bounded per-trigger drain, one idempotent dst commit per batch
    val orders = Tables.load(spark, src, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice").cache()
    val nC = v0 * factor
    (0 until nC).foreach(i => TableLog.commitAppend(
      orders.where(col("o_orderkey") % nC === i).coalesce(1), s"$base/rsrc"))
    orders.unpersist(blocking = true)
    val t0 = System.nanoTime()
    val vpt = 2
    val rq = graft.streaming.StreamIngest.logToLogRollup(spark,
      s"$base/rsrc", s"$base/rdst", s"$base/rckpt", versionsPerTrigger = vpt)
    rq.awaitTermination()
    val rollSec = (System.nanoTime() - t0) / 1e9
    val dstVersions = TableLog.versions(s"$base/rdst").size
    val wantBatches = (nC + vpt - 1) / vpt

    val bound = factor * 1.2
    val ok = commitRatio <= bound && fanRatio <= bound &&
      da.appendPartsMax == db.appendPartsMax &&
      fa.appendPartsMax == f0 && fb.appendPartsMax == f0 * factor &&
      dstVersions == wantBatches
    val s = new StringBuilder
    s ++= s"\n## Streaming change-feed source under ${factor}x commits / files (round-11 probe)\n\n"
    s ++= "| axis | 1x | " + s"${factor}x | ratio | bound | verdict |\n|---|---|---|---|---|---|\n"
    s ++= f"| drain sec over V=${v0} vs ${v0 * factor} commits | ${da.sec}%.1f | ${db.sec}%.1f | $commitRatio%.1f | $bound%.1f | ${if (commitRatio <= bound) "ok" else "SUPERLINEAR"} |\n"
    s ++= f"| drain sec over F=${f0} vs ${f0 * factor} files (1 commit) | ${fa.sec}%.1f | ${fb.sec}%.1f | $fanRatio%.1f | $bound%.1f | ${if (fanRatio <= bound) "ok" else "SUPERLINEAR"} |\n"
    s ++= s"| append-batch partitions (must be FLAT in log size) | ${da.appendPartsMax} | ${db.appendPartsMax} | — | equal | ${if (da.appendPartsMax == db.appendPartsMax) "ok" else "GROWS"} |\n"
    s ++= s"| fanout-batch partitions (= that commit's files) | ${fa.appendPartsMax} | ${fb.appendPartsMax} | — | $f0 / ${f0 * factor} | ${if (fa.appendPartsMax == f0 && fb.appendPartsMax == f0 * factor) "ok" else "WRONG"} |\n"
    s ++= s"| DV-delete batch partitions (= files the delete touches) | ${da.deleteParts} | ${db.deleteParts} | — | $v0 / ${v0 * factor} | ${if (da.deleteParts == v0 && db.deleteParts == v0 * factor) "ok" else "WRONG"} |\n"
    s ++= f"| logToLogRollup: dst commits over ${nC} src commits (vpt=$vpt) | — | $dstVersions | — | $wantBatches | ${if (dstVersions == wantBatches) "ok" else "WRONG"} |\n"
    s ++= f"\nRollup drain: $rollSec%.1f s total, bounded per-trigger batches (admission caps each micro-batch at $vpt commits). Overall: ${if (ok) "PASS" else "FAIL"}.\n"
    s.toString
  }

  /** Weak-scaling law for the file-granular SQL UPDATE (round-11 rewrite
    * scoping): a same-band UPDATE over a range-clustered log table must
    * rewrite the SAME number of files whether the table has F or 10F files
    * — the runtime group filter makes rewrite cost a function of MATCHED
    * files, never table size. File counts are exact (manifest live-set
    * diff via the `_file` metadata column); seconds are reported for
    * context only (host contention makes wall-time a soft signal).
    */
  private def probeRowLevel(spark: SparkSession, factor: Int): String = {
    val root = "/tmp/graft_scaleprobe/rowlevel"
    Scratch.wipe(root)
    new java.io.File(root).mkdirs()
    spark.conf.set("spark.sql.catalog.graftsp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftsp.root", root)
    def build(name: String, files: Int): Unit = {
      graft.sources.TableLog.commitAppend(
        spark.range(0, files * 1000L).selectExpr("id AS k", "id AS v")
          .repartitionByRange(files, org.apache.spark.sql.functions.col("k")),
        s"$root/$name")
      ()
    }
    def live(name: String): Set[String] =
      spark.sql(s"SELECT DISTINCT _file AS f FROM graftsp.$name")
        .collect().map(_.getString(0)).toSet
    def updateBand(name: String): (Int, Int, Int, Double) = {
      val before = live(name)
      // files that actually hold band rows — the exact expected scope (the
      // range partitioner's sampled boundaries put the band in 1 or 2 files)
      val matched = spark.sql(
        s"SELECT DISTINCT _file AS f FROM graftsp.$name WHERE k >= 2000 AND k < 3000")
        .collect().map(_.getString(0)).toSet
      val t0 = System.nanoTime()
      spark.sql(s"UPDATE graftsp.$name SET v = v + 1 WHERE k >= 2000 AND k < 3000")
      val sec = (System.nanoTime() - t0) / 1e9
      val rewritten = before -- live(name)
      ((rewritten -- matched).size + (matched -- rewritten).size, // scope error
        rewritten.size, before.size, sec)
    }
    build("rl1", 8)
    build("rlf", 8 * factor)
    val (err1, rw1, n1, s1) = updateBand("rl1")
    val (errf, rwf, nf, sf) = updateBand("rlf")
    // the law is EXACTNESS (rewritten == matched, err = symmetric diff = 0)
    // plus a small absolute bound: a 1000-key band spans 2-4 files under
    // the range partitioner's sampled boundaries, at EITHER table size —
    // never O(files)
    val ok = err1 == 0 && errf == 0 && rw1 <= 4 && rwf <= 4
    val md = new StringBuilder
    md ++= s"\n## File-granular UPDATE under ${factor}x files (round-11 row-level scope probe)\n\n"
    md ++= "| axis | 1x | " + s"${factor}x | bound | verdict |\n|---|---|---|---|---|\n"
    md ++= s"| table live files | $n1 | $nf | 8 / ${8 * factor} | ${if (n1 == 8 && nf == 8 * factor) "ok" else "FAIL"} |\n"
    md ++= s"| files REWRITTEN by the same 1000-key-band UPDATE (scope err $err1/$errf) | $rw1 | $rwf | == matched files (exact), <=4 | ${if (ok) "ok" else "FAIL"} |\n"
    md ++= f"| update seconds (context only) | $s1%.1f | $sf%.1f | — | — |\n"
    md ++= s"\nRewrite scope: ${if (ok) "PASS" else "FAIL"} — cost tracks matched files, not table size.\n"
    println(f"[scaleprobe] row-level scope: 1x rewrote $rw1/$n1, ${factor}x rewrote $rwf/$nf (${if (ok) "ok" else "FAIL"})")
    md.toString
  }

  /** Round-11 additions' scaling laws. (a) MatView.refresh must cost the
    * CHANGE RANGE, not the base: an identical small append to a 1x and a
    * factor·x base must refresh in ~equal time (both incremental). (b)
    * Txn.consistentSnapshot is a manifest-only computation that must stay
    * LINEAR in log length (versions + intents), never quadratic — probed
    * at factor·x the transaction/version count.
    */
  private def probeMatViewTxn(spark: SparkSession, factor: Int): String = {
    import graft.sources.{MatView, TableLog, Txn}
    import graft.sources.MatView.AggSpec
    val root = "/tmp/graft_scaleprobe/mvtxn"
    Scratch.wipe(root)
    new java.io.File(root).mkdirs()

    def buildBase(name: String, rows: Long): String = {
      val t = s"$root/$name"
      TableLog.commitAppend(spark.range(0, rows)
        .selectExpr("id % 100 AS k", "id AS v").repartition(8), t)
      t
    }
    val rows1 = 200000L
    val (b1, bf) = (buildBase("b1", rows1), buildBase("bf", rows1 * factor))
    MatView.create(spark, s"$root/mv1", b1, Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    MatView.create(spark, s"$root/mvf", bf, Seq("k"),
      Seq(AggSpec("count", "*"), AggSpec("sum", "v")))
    def sameAppend(t: String): Unit = {
      TableLog.commitAppend(spark.range(0, 2000)
        .selectExpr("id % 100 AS k", "id AS v").coalesce(1), t)
      ()
    }
    sameAppend(b1); sameAppend(bf)
    def timeRefresh(view: String): (Double, String) = {
      val t0 = System.nanoTime()
      val (_, mode) = MatView.refresh(spark, view)
      ((System.nanoTime() - t0) / 1e9, mode)
    }
    val (r1, m1) = timeRefresh(s"$root/mv1")
    val (rf, mf) = timeRefresh(s"$root/mvf")
    val refreshRatio = rf / r1
    // flat-cost law, with headroom for host contention on sub-second jobs
    val refreshBound = 2.5
    val refreshOk = m1 == "incremental" && mf == "incremental" &&
      refreshRatio <= refreshBound

    def buildTxns(name: String, n: Int): (String, Seq[String]) = {
      val (tr, ta, tb) = (s"$root/${name}_txns", s"$root/${name}_a", s"$root/${name}_b")
      (0 until n).foreach { i =>
        Txn.commitAll(spark, tr, f"t$i%03d", Seq(
          Txn.Write(spark.range(i, i + 1).selectExpr("id AS k").coalesce(1), ta),
          Txn.Write(spark.range(i, i + 1).selectExpr("id AS k").coalesce(1), tb)))
      }
      (tr, Seq(ta, tb))
    }
    val n1 = 6
    val (tr1, ts1) = buildTxns("x1", n1)
    val (trf, tsf) = buildTxns("xf", n1 * factor)
    def timeSnap(tr: String, ts: Seq[String]): Double = {
      val t0 = System.nanoTime()
      val s = Txn.consistentSnapshot(tr, ts)
      require(s.values.forall(_ >= 0))
      (System.nanoTime() - t0) / 1e9
    }
    val (s1, sf) = (timeSnap(tr1, ts1), timeSnap(trf, tsf))
    val snapRatio = sf / s1
    val snapBound = factor * 1.2
    val snapOk = snapRatio <= snapBound

    val md = new StringBuilder
    md ++= s"\n## MatView refresh + cross-table txn snapshot under ${factor}x (round-11 probe)\n\n"
    md ++= "| axis | 1x | " + s"${factor}x | ratio | bound | verdict |\n|---|---|---|---|---|---|\n"
    md ++= f"| refresh sec after an IDENTICAL 2k-row append (base ${rows1} vs ${rows1 * factor} rows; modes $m1/$mf) | $r1%.2f | $rf%.2f | $refreshRatio%.1f | $refreshBound%.1f (flat) | ${if (refreshOk) "ok" else "DATA-SCALED"} |\n"
    md ++= f"| consistentSnapshot sec over ${n1} vs ${n1 * factor} cross-table txns (= versions per table) | $s1%.2f | $sf%.2f | $snapRatio%.1f | $snapBound%.1f (linear metadata) | ${if (snapOk) "ok" else "SUPERLINEAR"} |\n"
    md ++= s"\nMatView/Txn: ${if (refreshOk && snapOk) "PASS" else "FAIL"} — refresh cost tracks the change range; snapshots stay metadata-linear (tag index = one manifest sweep per table).\n"
    println(f"[scaleprobe] matview refresh ratio=$refreshRatio%.1f ($m1/$mf), txn snapshot ratio=$snapRatio%.1f (${if (refreshOk && snapOk) "ok" else "FAIL"})")
    md.toString
  }

  /** Decode-bound columnar A/B: one flat log table (`rows` rows, one
    * snapshot, no DVs), a full-decode aggregate (longs + ints + a string
    * count), timed with the vectorized path on vs off — the same binary,
    * same files, same plan shape; only the reader loop differs. The
    * catalog fixtures in PERF.md are commit-I/O bound at sf0.1, so this is
    * where the VectorizedParquetRecordReader's page-at-a-time decode
    * actually shows. Also pins row identity between the two paths at
    * probe scale.
    */
  private def probeColumnarScan(spark: SparkSession, rows: Long): String = {
    val root = "/tmp/graft_scaleprobe_col"
    Scratch.wipe(root)
    val t = s"$root/colscan"
    sources.TableLog.commitAppend(
      spark.range(0, rows).selectExpr(
        "id AS k", "id * 3 AS a", "CAST(id % 97 AS INT) AS b",
        "md5(CAST(id AS STRING)) AS s"), t)
    spark.conf.set("spark.sql.catalog.graftspcol",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspcol.root", root)
    val q = "SELECT sum(a) AS sa, sum(k) AS sk, count(s) AS cs, " +
      "sum(CAST(b AS BIGINT)) AS sb, sum(length(s)) AS ls FROM graftspcol.colscan"
    def run(columnar: Boolean): (Double, String) = {
      spark.conf.set("spark.graft.columnar.enabled", columnar.toString)
      spark.sql(q).collect() // warm (cold JIT/footer caches out of the timing)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val r = spark.sql(q).collect()
        ((System.nanoTime() - t0) / 1e9, r.head.toString)
      }
      (times.map(_._1).sorted.apply(1), times.head._2)
    }
    val (rowSec, rowVal) = run(columnar = false)
    val (colSec, colVal) = run(columnar = true)
    require(rowVal == colVal,
      s"columnar and row paths disagree at $rows rows: $colVal vs $rowVal")
    val speedup = rowSec / colSec
    println(f"[scaleprobe] columnar scan $rows rows: row=$rowSec%.2fs col=$colSec%.2fs speedup=$speedup%.2fx")
    val md = new StringBuilder
    md ++= s"\n## Vectorized (ColumnarBatch) scan A/B — $rows-row flat log table (round-12 probe)\n\n"
    md ++= "| path | warm median sec (3 runs) |\n|---|---|\n"
    md ++= f"| Group-API row reader | $rowSec%.2f |\n"
    md ++= f"| VectorizedParquetRecordReader (ColumnarBatch) | $colSec%.2f |\n"
    md ++= f"\nSpeedup $speedup%.2fx on a decode-bound full-column aggregate; " +
      "results bit-identical between paths. The PERF.md catalog fixtures " +
      "move less (1.4-1.6x) because commit I/O dominates them at sf0.1.\n"
    md.toString
  }

  def main(args: Array[String]): Unit = {
    // standalone columnar probe: `runMain graft.ScaleProbe columnar [rows]`
    // appends its section to SCALEPROBE.md without re-running the full sweep
    if (args.headOption.contains("columnar")) {
      val rows = args.lift(1).map(_.toLong).getOrElse(5000000L)
      val spark = Harness.session()
      val section = probeColumnarScan(spark, rows)
      java.nio.file.Files.write(java.nio.file.Paths.get("SCALEPROBE.md"),
        section.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      println("[scaleprobe] columnar section appended to SCALEPROBE.md")
      spark.stop()
      return
    }
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "graph_kcore", "graph_influence", "graph_harmonic",
      "emb_pca_power", "dedup_incremental", "cf_item_recs",
      // r9 verdict item 5: the rest of the bench top-10, previously unprobed
      "graph_ppr_recs", "recursive_sql_reach", "contrastive_hard_negatives",
      "ann_ivfpq_topk", "ingest_grid_candles")
    val src = Harness.sfDir
    val cpus = Harness.cpus
    val spark = Harness.session()

    val base = "/tmp/graft_scaleprobe"
    println(s"[scaleprobe] generating 1x and ${factor}x datasets from $src")
    gen(spark, src, s"$base/x1", 1)
    gen(spark, src, s"$base/x$factor", factor)

    def time(name: String, dir: String): (Double, Seq[String]) = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, rows.take(12).map(_.toString).toSeq)
    }

    val md = new StringBuilder
    md ++= s"# Scale probe — ${factor}x disconnected-copies weak scaling vs a same-transform 1x baseline\n\n"
    md ++= s"Source `$src`, local[$cpus]. Pass bound: ratio <= ${factor} x 1.2 "
    md ++= s"= ${factor * 1.2} (superlinear blow-up fails; sublinear = fixed "
    md ++= "overhead amortizing, expected for scheduler-bound toy-scale rounds).\n\n"
    md ++= "| query | 1x sec | " + s"${factor}x sec | ratio | verdict |\n|---|---|---|---|---|\n"
    var allOk = true
    val detail = new StringBuilder
    names.foreach { n =>
      val (s1, r1) = time(n, s"$base/x1")
      val (sf, rf) = time(n, s"$base/x$factor")
      val ratio = sf / s1
      val ok = ratio <= factor * 1.2
      allOk &= ok
      md ++= f"| $n | $s1%.1f | $sf%.1f | $ratio%.1f | ${if (ok) "ok" else "SUPERLINEAR"} |\n"
      println(f"[scaleprobe] $n%-22s 1x=$s1%7.1fs ${factor}x=$sf%7.1fs ratio=$ratio%5.1f ${if (ok) "ok" else "SUPERLINEAR"}")
      if (n == "graph_kcore") {
        detail ++= "\n## graph_kcore per-round state (survivors, edges) — the bound that must scale linearly\n\n"
        detail ++= s"1x rounds:\n```\n${r1.mkString("\n")}\n```\n${factor}x rounds:\n```\n${rf.mkString("\n")}\n```\n"
      }
      if (n == "cf_item_recs") {
        // r9 verdict item 3: WHICH stage grows — per-stage rows AND job
        // seconds at both scales, with growth ratios (rows linear + time
        // superlinear isolates a constant-factor/spill problem to its job)
        val s1rows = graft.analytics.Mining.cfStageRows(spark, s"$base/x1")
        val sfrows = graft.analytics.Mining.cfStageRows(spark, s"$base/x$factor")
          .map(t => t._1 -> (t._2, t._3)).toMap
        detail ++= s"\n## cf_item_recs per-stage rows + job seconds (1x vs ${factor}x)\n\n"
        detail ++= "| stage | 1x rows | " + s"${factor}x rows | row ratio | 1x s | ${factor}x s | time ratio |\n|---|---|---|---|---|---|---|\n"
        s1rows.foreach { case (stage, c1, t1) =>
          val (cf, tf) = sfrows(stage)
          detail ++= f"| $stage | $c1 | $cf | ${cf.toDouble / math.max(c1, 1)}%.1f | $t1%.1f | $tf%.1f | ${tf / math.max(t1, 0.001)}%.1f |\n"
        }
      }
    }
    md ++= detail
    md ++= probeChangeFeed(spark, src, factor)
    md ++= probeRowLevel(spark, factor)
    md ++= probeMatViewTxn(spark, factor)
    md ++= s"\nOverall: ${if (allOk) "PASS" else "FAIL"} — every ratio within the weak-scaling bound.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALEPROBE.md"),
      md.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scaleprobe] ${if (allOk) "PASS" else "FAIL"} -> SCALEPROBE.md")
    spark.stop()
  }
}
