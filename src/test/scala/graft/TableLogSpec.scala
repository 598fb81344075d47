package graft

import graft.sources.TableLog
import graft.sources.TableLog.Stats.Utf8
import org.apache.spark.sql.functions._

/** Pins the metadata-log contract: append/overwrite versioning, snapshot
  * isolation (old versions read identically after later commits), time
  * travel, atomic publication (no torn manifests), and vacuum deleting
  * exactly the unreferenced files.
  */
class TableLogSpec extends SparkSpec {
  import spark.implicits._

  private val root = "/tmp/graft_test_tlog"

  test("append/overwrite commits version; old snapshots stay readable; vacuum prunes") {
    Scratch.wipe(root)
    val t = s"$root/t"

    val v0 = TableLog.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    assert(v0 == 0L && TableLog.versions(t) == Seq(0L))

    val v1 = TableLog.commitAppend(Seq((3L, "c")).toDF("k", "v"), t)
    assert(v1 == 1L)
    // latest sees the union, v0 still sees only its snapshot
    assert(TableLog.read(spark, t).count() == 3)
    assert(TableLog.read(spark, t, Some(0L)).select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // logical overwrite: v2 is ONLY the new rows, v0/v1 untouched
    val v2 = TableLog.commitOverwrite(Seq((9L, "z")).toDF("k", "v"), t)
    assert(v2 == 2L)
    assert(TableLog.read(spark, t).select("k").as[Long].collect().toSeq == Seq(9L))
    assert(TableLog.read(spark, t, Some(1L)).count() == 3)

    // no torn state: log contains only fully-published manifests (plus the
    // append-only row-count sidecar every write records into)
    val logFiles = new java.io.File(s"$t/_log").listFiles().map(_.getName).toSet
    assert(logFiles == Set("v0.txt", "v1.txt", "v2.txt", "rowcounts.txt"))

    // vacuum to latest only: v0/v1 manifests dropped, their files deleted
    val dataBefore = new java.io.File(s"$t/data").listFiles().length
    val (dropped, deleted) = TableLog.vacuum(t, keepVersions = 1)
    assert(dropped == Seq(0L, 1L))
    assert(deleted > 0 && new java.io.File(s"$t/data").listFiles().length == dataBefore - deleted)
    // latest still reads
    assert(TableLog.read(spark, t).select("k").as[Long].collect().toSeq == Seq(9L))
    // time travel to vacuumed versions now (correctly) refuses
    intercept[IllegalArgumentException](TableLog.read(spark, t, Some(0L)))
  }

  test("backup/restore: snapshot round-trips exactly; a tampered backup is refused") {
    val root = "/tmp/graft_test_backup"
    Scratch.wipe(root)
    val src = s"$root/src"; val bak = s"$root/bak"; val restored = s"$root/restored"
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload")
    val v1 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "payload")
    TableLog.commitOverwrite(v0, src)
    TableLog.commitOverwrite(v1, src)
    // latest-snapshot backup restores to an identical relation in a new log
    val bv = TableLog.backup(spark, src, bak)
    assert(bv == 1L, "default backup takes the latest version")
    TableLog.restore(spark, bak, restored)
    val got = TableLog.read(spark, restored).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (4L, "d")))
    // an as-of backup exports the time-travel snapshot
    val bak0 = s"$root/bak0"
    assert(TableLog.backup(spark, src, bak0, asOf = Some(0L)) == 0L)
    TableLog.restore(spark, bak0, s"$root/restored0")
    assert(TableLog.read(spark, s"$root/restored0").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // tampering: smuggle an extra data file into the backup → restore refuses
    Seq((99L, "evil")).toDF("id", "payload")
      .write.mode("append").parquet(s"$bak/data")
    val ex = intercept[IllegalArgumentException] {
      TableLog.restore(spark, bak, s"$root/restored_bad")
    }
    assert(ex.getMessage.contains("integrity"), s"wrong failure: ${ex.getMessage}")
  }

  test("gcOrphans removes crashed-commit leftovers and spares every live file") {
    val t = "/tmp/graft_test_gc"
    Scratch.wipe(t)
    TableLog.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), t)
    TableLog.commitAppend(Seq((3L, "c")).toDF("id", "p"), t)
    val before = TableLog.read(spark, t).as[(Long, String)].collect().toSet
    // simulate a crashed commit: a data file nobody ever published, plus an
    // abandoned staging dir
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "data", "orphan.parquet"), Array[Byte](1, 2, 3))
    val stage = java.nio.file.Paths.get(t, ".staging_dead")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.write(stage.resolve("part.parquet"), Array[Byte](4))
    val removed = TableLog.gcOrphans(t)
    assert(removed == 2, s"expected 2 orphans removed, got $removed")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "data", "orphan.parquet")))
    assert(!java.nio.file.Files.exists(stage))
    // every live snapshot still reads identically — v0 AND the head
    assert(TableLog.read(spark, t).as[(Long, String)].collect().toSet == before)
    assert(TableLog.read(spark, t, asOf = Some(0L)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // idempotent: a second sweep finds nothing
    assert(TableLog.gcOrphans(t) == 0)
    // a fresh/absent table reports 0 removed instead of throwing
    // (NoSuchFileException regression: the CLI `graft gc` crashed here)
    assert(TableLog.gcOrphans("/tmp/graft_test_gc_never_created") == 0)
  }

  test("vacuumPlan is a faithful dry run: vacuum executes exactly the plan") {
    val t = "/tmp/graft_test_vacplan"
    Scratch.wipe(t)
    TableLog.commitOverwrite(Seq((1L, "a")).toDF("id", "p"), t)
    TableLog.commitOverwrite(Seq((2L, "b"), (3L, "c")).toDF("id", "p"), t)
    TableLog.commitAppend(Seq((4L, "d")).toDF("id", "p"), t)
    val (dropV, nFiles, bytes) = TableLog.vacuumPlan(t, keepVersions = 1)
    assert(dropV == Seq(0L, 1L))
    assert(nFiles >= 1 && bytes > 0, "overwritten v0 files must be reclaimable")
    // keeping everything reclaims nothing
    assert(TableLog.vacuumPlan(t, keepVersions = 3) == ((Seq.empty[Long], 0, 0L)))
    // execution matches the plan exactly
    val (droppedV, removed) = TableLog.vacuum(t, keepVersions = 1)
    assert(droppedV == dropV && removed == nFiles)
    // the surviving snapshot is intact
    assert(TableLog.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("vacuum keeps files still referenced by a kept version") {
    Scratch.wipe(root)
    val t = s"$root/t2"
    TableLog.commitAppend(Seq((1L, "a")).toDF("k", "v"), t) // v0: fileA
    TableLog.commitAppend(Seq((2L, "b")).toDF("k", "v"), t) // v1: fileA + fileB
    val (dropped, deleted) = TableLog.vacuum(t, keepVersions = 1)
    // v0's file is still live in v1 — nothing may be deleted
    assert(dropped == Seq(0L) && deleted == 0)
    assert(TableLog.read(spark, t).count() == 2)
  }

  test("schema evolution: widened commit reads merged, old rows null-backfilled") {
    Scratch.wipe(root)
    val t = s"$root/t3"
    TableLog.commitAppend(Seq((1L, 10L)).toDF("k", "cents"), t)
    TableLog.commitAppend(Seq((2L, 20L, "NEW")).toDF("k", "cents", "status"), t)
    val merged = TableLog.read(spark, t, mergeSchema = true)
    assert(merged.columns.toSet == Set("k", "cents", "status"))
    val byK = merged.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("status")).toMap
    assert(byK == Map(1L -> null, 2L -> "NEW"))
    // time travel to v0 keeps the ORIGINAL narrow schema
    assert(TableLog.read(spark, t, Some(0L), mergeSchema = true)
      .columns.toSet == Set("k", "cents"))
  }

  test("optimize compacts the snapshot into a new version; history intact until vacuum") {
    Scratch.wipe(root)
    val t = s"$root/t5"
    // many small commits → many small files
    (0L until 6L).foreach(i =>
      TableLog.commitAppend(Seq((i, i * 10)).toDF("k", "v").repartition(2), t))
    val before = TableLog.liveFileCount(t)
    assert(before >= 6, s"expected a small-file spray, got $before")
    val full = TableLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val v = TableLog.optimize(spark, t)
    assert(TableLog.liveFileCount(t) == 1)
    // same data, new version; the pre-optimize snapshot still reads
    assert(TableLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == full)
    assert(TableLog.read(spark, t, Some(v - 1)).count() == full.size)
    // vacuum to latest-only reclaims the small files
    val (_, deleted) = TableLog.vacuum(t, keepVersions = 1)
    assert(deleted == before)
    assert(TableLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == full)
  }

  test("file stats prune range-clustered files; pruned read equals full read") {
    Scratch.wipe(root)
    val t = s"$root/t4"
    // range-cluster on k at write → narrow per-file key ranges
    val rows = (0L until 400L).map(k => (k, k % 7)).toDF("k", "payload")
      .repartitionByRange(4, col("k"))
    TableLog.commitAppend(rows, t, statCols = Seq("k"))
    val (kept, total) = TableLog.prunedFiles(t, "k", lo = Some(120L), hi = Some(140L))
    assert(total == 4 && kept.size < total, s"no pruning: $kept of $total")
    val pruned = TableLog.readPruned(spark, t, "k", Some(120L), Some(140L))
      .where(col("k").between(120L, 140L))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("payload"))).toSet
    val full = TableLog.read(spark, t)
      .where(col("k").between(120L, 140L))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("payload"))).toSet
    assert(pruned == full && pruned.size == 21)
    // appended files without overlap prune away too; stats carry forward
    TableLog.commitAppend(
      (1000L until 1100L).map(k => (k, k % 7)).toDF("k", "payload"), t,
      statCols = Seq("k"))
    val (kept2, total2) = TableLog.prunedFiles(t, "k", Some(120L), Some(140L))
    assert(total2 > total && kept2 == kept, "carried-forward stats must keep pruning")
    // a box missing every file reads empty but keeps the schema
    assert(TableLog.readPruned(spark, t, "k", Some(5000L), Some(6000L)).count() == 0L)
  }

  test("STRING stats prune files in UTF-8 byte order; retrofit ANALYZE indexes them too") {
    Scratch.wipe(root)
    val t = s"$root/t4s"
    // range-cluster on a string key → narrow per-file string ranges
    val rows = (0L until 400L).map(k => (f"key$k%04d", k)).toDF("sk", "payload")
      .repartitionByRange(4, col("sk"))
    TableLog.commitAppend(rows, t, statCols = Seq("sk"))
    val (kept, total) = TableLog.prunedFiles(t, "sk", Some(Utf8("key0120")), Some(Utf8("key0140")))
    assert(total == 4 && kept.size < total, s"no string pruning: $kept of $total")
    val pruned = TableLog.readPruned(spark, t, "sk", Some(Utf8("key0120")), Some(Utf8("key0140")))
      .where(col("sk") >= "key0120" && col("sk") <= "key0140")
      .collect().map(_.getAs[Long]("payload")).toSet
    assert(pruned == (120L to 140L).toSet)
    // one-sided bounds: unbounded lo keeps the low files, skips the high tail
    val (keptLe, _) = TableLog.prunedFiles(t, "sk", None, Some(Utf8("key0050")))
    assert(keptLe.size < total && keptLe.nonEmpty)
    // non-ASCII round-trip: multi-byte UTF-8 bounds survive the hex sidecar
    // and compare in byte order (é = 0xC3 0xA9 sorts above all ASCII)
    val t2 = s"$root/t4u"
    TableLog.commitAppend(
      Seq(("alpha", 1L), ("zeta", 2L)).toDF("sk", "payload").coalesce(1), t2,
      statCols = Seq("sk"))
    TableLog.commitAppend(
      Seq(("émile", 3L), ("été", 4L)).toDF("sk", "payload").coalesce(1), t2,
      statCols = Seq("sk"))
    val (keptU, totalU) = TableLog.prunedFiles(t2, "sk", Some(Utf8("é")), None)
    assert(totalU == 2 && keptU.size == 1,
      s"multi-byte lower bound must skip the ASCII file: kept $keptU of $totalU")
    assert(TableLog.readPruned(spark, t2, "sk", Some(Utf8("é")), None)
      .where(col("sk") >= "é").collect().map(_.getAs[Long]("payload")).toSet ==
      Set(3L, 4L))
    // retrofit: a statless clustered table gains a string index from FOOTERS
    val t3 = s"$root/t4r"
    TableLog.commitAppend(rows, t3) // NO statCols
    assert(TableLog.prunedFiles(t3, "sk", Some(Utf8("key0120")), Some(Utf8("key0140")))._1.size == 4,
      "statless table must keep every file")
    val n = TableLog.buildStatsIndex(t3, Seq("sk"))
    assert(n == 4, s"footer ANALYZE should index 4 files, got $n")
    val (keptR, _) = TableLog.prunedFiles(t3, "sk", Some(Utf8("key0120")), Some(Utf8("key0140")))
    assert(keptR.size < 4 && keptR.nonEmpty)
    // footer-derived ranges must be read-identical to write-time stats
    assert(TableLog.readPruned(spark, t3, "sk", Some(Utf8("key0120")), Some(Utf8("key0140")))
      .where(col("sk") >= "key0120" && col("sk") <= "key0140")
      .collect().map(_.getAs[Long]("payload")).toSet == (120L to 140L).toSet)
  }

  test("stats sidecar bytes: one line format, carried byte-identical, same line from footers") {
    Scratch.wipe(s"$root/fmt")
    val t = s"$root/fmt/t"
    def sidecar(v: Long) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(t, "_log", s"s$v.txt")),
      java.nio.charset.StandardCharsets.UTF_8)
    // a long, an int (widened to a long range) and a string column whose
    // values hold the line separator '|' and a character outside the BMP
    TableLog.commitAppend(
      Seq((5L, -3, "a|b"), (-7L, 9, "z\uD83D\uDE00")).toDF("l", "i", "s").coalesce(1), t,
      statCols = Seq("l", "i", "s"))
    def dataFiles = new java.io.File(s"$t/data").listFiles().map(_.getName).toSet
    val Seq(f) = dataFiles.toSeq
    val (lLine, sLine) = (s"data/$f|l|-7|5", s"data/$f|s|S|617c62|7af09f9880")
    assert(sidecar(0L) == Seq(lLine, s"data/$f|i|-3|9", sLine).mkString("\n"))
    // a probe of one kind never reads a line of the other kind
    assert(TableLog.prunedFiles(t, "s", Some(-100L), Some(-50L))._1.size == 1)
    assert(TableLog.prunedFiles(t, "l", Some(Utf8("zz")), None)._1.size == 1)
    // a statless append carries the lines forward byte-identical
    TableLog.commitAppend(Seq((100L, 1, "q")).toDF("l", "i", "s").coalesce(1), t)
    assert(sidecar(1L) == sidecar(0L))
    // footer ANALYZE renders the same line the write-time gather did
    assert(TableLog.buildStatsIndex(t, Seq("l", "s")) == 4)
    val rebuilt = sidecar(1L).split("\n").toSet
    assert(Set(lLine, s"data/$f|i|-3|9", sLine).subsetOf(rebuilt), rebuilt)
    // a string range whose bounds are both empty ends in empty fields: it
    // parses, prunes and carries forward like any other line
    val seen = dataFiles
    TableLog.commitAppend(Seq((0L, 0, "")).toDF("l", "i", "s").coalesce(1), t,
      statCols = Seq("s"))
    val Seq(e) = (dataFiles -- seen).toSeq
    assert(sidecar(2L).split("\n").contains(s"data/$e|s|S||"), sidecar(2L))
    assert(TableLog.prunedFiles(t, "s", None, Some(Utf8("")))._1 == Seq(s"data/$e"))
    TableLog.commitAppend(Seq((1L, 1, "q")).toDF("l", "i", "s").coalesce(1), t)
    assert(sidecar(3L) == sidecar(2L))
  }

  test("a stat column that is absent or not indexable fails before any file is written") {
    Scratch.wipe(s"$root/badstat")
    val t = s"$root/badstat/t"
    TableLog.commitAppend(Seq((1L, 1.5)).toDF("k", "x"), t)
    def dataFiles = new java.io.File(s"$t/data").listFiles().map(_.getName).toSet
    val before = dataFiles
    intercept[IllegalArgumentException](
      TableLog.commitAppend(Seq((2L, 2.5)).toDF("k", "x"), t, statCols = Seq("x")))
    assert(dataFiles == before, "a double-typed stat column left data files behind")
    intercept[IllegalArgumentException](
      TableLog.commitAppend(Seq((3L, 3.5)).toDF("k", "x"), t, statCols = Seq("nope")))
    assert(dataFiles == before, "an absent stat column left data files behind")
    assert(TableLog.versions(t) == Seq(0L))
  }

  test("optimize re-gathers stats: compacted table keeps skipping files") {
    Scratch.wipe(root)
    val t = s"$root/t5"
    val rows = (0L until 400L).map(k => (k, k % 7)).toDF("k", "payload")
      .repartitionByRange(8, col("k"))
    TableLog.commitAppend(rows, t, statCols = Seq("k"))
    // compact 8 range-clustered files into 4 — the sidecar's indexed column
    // is recovered from the prior version and re-gathered for the new files
    TableLog.optimize(spark, t, nFiles = 4)
    // deterministic probe: every key < 400, so a [5000, 6000] box keeps ZERO
    // files iff the compacted version has stats — the keep-all fallback
    // (stats silently dropped) would keep all 4. In-range pruning depends on
    // how coalesce grouped the inputs, so it is not asserted here.
    val (kept, total) = TableLog.prunedFiles(t, "k", lo = Some(5000L), hi = Some(6000L))
    assert(total == 4, s"expected 4 compacted files, saw $total")
    assert(kept.isEmpty, s"OPTIMIZE dropped the stats index: kept $kept of $total")
    // and the compacted data still reads back exactly
    assert(TableLog.read(spark, t).count() == 400L)
    val pruned = TableLog.readPruned(spark, t, "k", Some(10L), Some(40L))
      .where(col("k").between(10L, 40L)).count()
    assert(pruned == 31L)
  }

  test("optimize zorder clusters the snapshot so BOTH dimensions skip files") {
    Scratch.wipe(root)
    val t = s"$root/t6"
    // 40×40 grid in row-major order: unclustered in b (every file sees all b)
    val rows = (0L until 1600L).map(i => (i % 40, i / 40)).toDF("a", "b")
      .repartition(8)
    TableLog.commitAppend(rows, t, statCols = Seq("a"))
    TableLog.optimizeZOrder(spark, t, "a", "b", nFiles = 16)
    val (keptA, total) = TableLog.prunedFiles(t, "a", lo = Some(0L), hi = Some(4L))
    assert(total == 16, s"expected 16 z-ordered files, saw $total")
    assert(keptA.size < total, s"a-dim box kept all $total files")
    // the previously UNINDEXED dimension prunes too — the point of Z-order
    val (keptB, _) = TableLog.prunedFiles(t, "b", lo = Some(0L), hi = Some(4L))
    assert(keptB.size < total, s"b-dim box kept all $total files")
    // identity: clustered snapshot reads back exactly, pruned == full
    assert(TableLog.read(spark, t).count() == 1600L)
    val box = TableLog.readPruned(spark, t, "b", Some(0L), Some(4L))
      .where(col("b").between(0L, 4L)).count()
    assert(box == 200L)
  }

  test("check constraints: violating commit aborts untouched; observe adds no extra pass") {
    val t = s"$root/chk"
    Scratch.wipe(t)
    TableLog.commitAppend(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    TableLog.addCheckConstraint(t, "v_positive", "v > 0")
    TableLog.addCheckConstraint(t, "k_nonnull", "k IS NOT NULL")
    // persisted: a fresh read of the log sees both
    assert(TableLog.checkConstraints(t).map(_._1) == Seq("v_positive", "k_nonnull"))

    // passing append commits
    val v1 = TableLog.commitAppend(Seq((3L, 30L)).toDF("k", "v"), t)
    assert(v1 == 1L && TableLog.read(spark, t).count() == 3)

    // violating append aborts BEFORE publish: same versions, same rows,
    // and the staged files are cleaned up (nothing for gc to find)
    val ex = intercept[TableLog.CheckViolation] {
      TableLog.commitAppend(Seq((4L, -5L), (5L, 50L)).toDF("k", "v"), t)
    }
    assert(ex.constraint == "v_positive" && ex.rows == 1L)
    assert(TableLog.versions(t) == Seq(0L, 1L))
    assert(TableLog.read(spark, t).count() == 3)
    assert(TableLog.gcOrphans(t) == 0, "violated commit must clean its staged files")

    // NULL passes (SQL-standard CHECK): a null v row is not a violation
    val v2 = TableLog.commitAppend(
      Seq((6L, Some(60L)), (7L, None)).toDF("k", "v"), t)
    assert(v2 == 2L && TableLog.read(spark, t).count() == 5)

    // dropped constraint no longer enforces
    TableLog.dropCheckConstraint(t, "v_positive")
    TableLog.commitAppend(Seq((8L, -1L)).toDF("k", "v"), t)
    assert(TableLog.read(spark, t).count() == 6)
  }

  test("optimistic concurrency: a claimed version forces retry onto the next; no lost commit") {
    val t = s"$root/occ"
    Scratch.wipe(t)
    TableLog.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // simulate a concurrent writer that already claimed v1: copy v0's
    // manifest to v1 (a valid published version this writer hasn't seen)
    val log = java.nio.file.Paths.get(t, "_log")
    java.nio.file.Files.copy(log.resolve("v0.txt"), log.resolve("v1.txt"))

    // the publish primitive itself is put-if-absent: claiming v1 again must
    // throw CommitConflict and leave the winner's manifest byte-identical
    val before = java.nio.file.Files.readAllBytes(log.resolve("v1.txt")).toSeq
    intercept[TableLog.CommitConflict] {
      TableLog.publish(t, 1L, Seq("data/ghost.parquet"))
    }
    assert(java.nio.file.Files.readAllBytes(log.resolve("v1.txt")).toSeq == before,
      "a losing publish must not clobber the winner's manifest")

    // this append computed v1 too — it must lose the claim, re-read the
    // head, and land on v2 ON TOP OF the concurrent commit's file list
    val v = TableLog.commitAppend(Seq((3L, "c")).toDF("k", "v"), t)
    assert(v == 2L)
    assert(TableLog.versions(t) == Seq(0L, 1L, 2L))
    assert(TableLog.read(spark, t).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L), "both the concurrent commit's files and the retry's rows survive")
    // the concurrently-published manifest is intact (not clobbered)
    assert(TableLog.read(spark, t, Some(1L)).count() == 2)
  }

  test("deletion vectors: no file rewrite; merged deletes; optimize materializes; gc spares DVs") {
    val t = s"$root/dv"
    Scratch.wipe(t)
    val df = (1L to 100L).map(k => (k, k % 7)).toDF("k", "g")
    TableLog.commitAppend(df.repartition(3), t)
    val filesV0 = TableLog.liveFileCount(t)

    val v1 = TableLog.deleteWhere(spark, t, "k % 2 = 0")
    assert(v1 == 1L)
    // merge-on-read: same data files, deleted rows filtered by the DV
    assert(TableLog.liveFileCount(t) == filesV0, "delete must not rewrite data files")
    assert(TableLog.dvFiles(t, v1).nonEmpty)
    assert(TableLog.read(spark, t).count() == 50)
    assert(TableLog.read(spark, t).select("k").as[Long].collect().forall(_ % 2 == 1))
    // time travel to the pre-delete snapshot still sees every row
    assert(TableLog.read(spark, t, Some(0L)).count() == 100)

    // overlapping second delete: 5 new victims (odd ≤ 10), 5 already dead
    TableLog.deleteWhere(spark, t, "k <= 10")
    assert(TableLog.read(spark, t).count() == 45)

    // append carries prior DVs forward
    TableLog.commitAppend(Seq((1000L, 0L)).toDF("k", "g"), t)
    assert(TableLog.read(spark, t).count() == 46)

    // gcOrphans must spare DV files referenced by live versions
    TableLog.gcOrphans(t)
    assert(TableLog.read(spark, t).count() == 46)

    // optimize reads through the DVs and publishes a materialized snapshot
    val vOpt = TableLog.optimize(spark, t, 1)
    assert(TableLog.dvFiles(t, vOpt).isEmpty, "compaction materializes the deletes")
    assert(TableLog.read(spark, t).count() == 46)

    // vacuum reclaims the dropped versions' DV sidecars with their files
    TableLog.vacuum(t, keepVersions = 1)
    assert(TableLog.read(spark, t).count() == 46)
  }

  test("bitemporal as-of: tx axis is real log versions; restatement laws hold") {
    val rows = TableLog.bitemporalAsOf(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("tx0", "tx1", "restated", "late_added"))
    // the valid instant is fixed, so corrections can only restate or add
    assert(rows("tx1")._1 >= rows("tx0")._1)
    assert(rows("tx1")._1 == rows("tx0")._1 + rows("late_added")._1,
      "tx1 belief set = tx0 beliefs + late-added users")
    assert(rows("restated")._1 <= rows("tx0")._1)
    // a restatement means the hash-sums genuinely diverge between versions
    if (rows("restated")._1 > 0 || rows("late_added")._1 > 0)
      assert(rows("tx0")._3 != rows("tx1")._3)
    // deterministic: a second evaluation returns the identical snapshot
    val again = TableLog.bitemporalAsOf(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == rows)
  }

  test("version diff: self-diff is all-unchanged, v0→v1 covers the key union once") {
    import org.apache.spark.sql.functions.col
    val t = TableLog.ordersDiffed(spark, sfDir)
    // identity law: diffing a version against itself classifies nothing
    val self = TableLog.diffVersions(spark, t, 1L, 1L, "o_orderkey", "cents")
      .groupBy("class").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(self.keySet == Set("unchanged"), s"self-diff produced $self")
    // coverage law: every key of either version appears exactly once
    val d = TableLog.diffVersions(spark, t, 0L, 1L, "o_orderkey", "cents")
    val n0 = TableLog.read(spark, t, Some(0L)).count()
    val added = d.where(col("class") === "added").count()
    assert(d.count() == n0 + added, "diff rows = v0 keys + added keys")
    assert(d.select("o_orderkey").distinct().count() == d.count(), "keys unique in diff")
    // class semantics: removed rows have null vb, added null va
    assert(d.where(col("class") === "removed" && col("vb").isNotNull).count() == 0)
    assert(d.where(col("class") === "added" && col("va").isNotNull).count() == 0)
    assert(d.where(col("class") === "changed" && (col("va").isNull || col("vb").isNull))
      .count() == 0)
  }

  test("optimize vs concurrent commit: stale compaction restarts, no lost update") {
    Scratch.wipe(s"$root/opt_conflict")
    val t = s"$root/opt_conflict"
    TableLog.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TableLog.commitAppend(Seq((3L, "c")).toDF("k", "v"), t)
    // interleave a concurrent append between optimize's snapshot read and
    // its publish: the pinned-version compaction must detect the moved head
    // and re-compact INCLUDING the concurrent rows (the round-8 advisor's
    // lost-update scenario — the old withRetry republished the stale files)
    var fired = false
    TableLog.testBeforeCompactPublish = () => {
      if (!fired) { fired = true; TableLog.commitAppend(Seq((99L, "late")).toDF("k", "v"), t); () }
    }
    try {
      val v = TableLog.optimize(spark, t, nFiles = 1)
      assert(fired, "test seam did not fire")
      assert(v == TableLog.versions(t).last)
      // the concurrent commit's row survived the compaction
      assert(TableLog.read(spark, t).select("k").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 99L))
      assert(TableLog.liveFileCount(t) == 1)
      // the stale compaction's staged files were cleaned up (nothing orphaned)
      assert(TableLog.gcOrphans(t) == 0)
    } finally TableLog.testBeforeCompactPublish = () => ()
  }

  test("deleteWhere on a schema-evolved table matches rows in pre-evolution files too") {
    Scratch.wipe(s"$root/del_evolved")
    val t = s"$root/del_evolved"
    TableLog.commitAppend(Seq((1L, 10L), (2L, 20L)).toDF("k", "cents"), t)
    // widening commit adds `status`; v0's files have never heard of it
    TableLog.commitAppend(
      Seq((3L, 30L, "X"), (4L, 40L, "Y")).toDF("k", "cents", "status"), t)
    // a predicate that touches BOTH the original and the added column: with a
    // single-file-inferred schema this either throws or matches nothing in
    // the old files; with mergeSchema the null-backfilled status is false-y
    // for old rows and the cents leg still fires
    TableLog.deleteWhere(spark, t, "cents = 20 OR status = 'Y'")
    val live = TableLog.read(spark, t, mergeSchema = true)
      .select("k").as[Long].collect().sorted.toSeq
    assert(live == Seq(1L, 3L))
  }

  test("DV read preserves user columns literally named _f and _p") {
    Scratch.wipe(s"$root/dv_cols")
    val t = s"$root/dv_cols"
    TableLog.commitAppend(
      Seq((1L, "f1", "p1"), (2L, "f2", "p2"), (3L, "f3", "p3"))
        .toDF("k", "_f", "_p"), t)
    TableLog.deleteWhere(spark, t, "k = 2")
    val rows = TableLog.read(spark, t).orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the fixed-name helper columns used to REPLACE then DROP these
    assert(rows.map(_.getString(1)).toSeq == Seq("f1", "f3"))
    assert(rows.map(_.getString(2)).toSeq == Seq("p1", "p3"))
  }

  test("commitOnceOverwrite enforces CHECK constraints like every other commit") {
    Scratch.wipe(s"$root/once_check")
    val t = s"$root/once_check"
    TableLog.commitAppend(Seq((1L, 5L)).toDF("k", "v"), t)
    TableLog.addCheckConstraint(t, "v_pos", "v > 0")
    intercept[TableLog.CheckViolation] {
      TableLog.commitOnceOverwrite(Seq((2L, -1L)).toDF("k", "v"), t, "txnA")
    }
    // aborted commit left the table untouched and the txn unrecorded
    assert(TableLog.versions(t) == Seq(0L))
    assert(!TableLog.committedTxns(t).contains("txnA"))
    assert(TableLog.gcOrphans(t) == 0)
    // a valid retry of the same txn then lands once
    assert(TableLog.commitOnceOverwrite(Seq((2L, 7L)).toDF("k", "v"), t, "txnA").contains(1L))
    assert(TableLog.commitOnceOverwrite(Seq((2L, 7L)).toDF("k", "v"), t, "txnA").isEmpty)
  }

  test("commitOnceAppend carries DVs and stats forward; a replayed txn adds no version") {
    Scratch.wipe(s"$root/once_append")
    val t = s"$root/once_append/t"
    TableLog.commitAppend(
      (0L until 400L).map(k => (k, k % 7)).toDF("k", "payload")
        .repartitionByRange(4, col("k")), t, statCols = Seq("k"))      // v0
    TableLog.deleteWhere(spark, t, "k = 130")                          // v1
    val dvs = TableLog.dvFiles(t, 1L)
    val (kept, total) = TableLog.prunedFiles(t, "k", Some(120L), Some(140L))
    assert(dvs.nonEmpty && total == 4 && kept.size < total)

    def batch = (1000L until 1100L).map(k => (k, k % 7)).toDF("k", "payload").coalesce(1)
    assert(TableLog.commitOnceAppend(batch, t, "batch-7", statCols = Seq("k"))
      .contains(2L))                                                   // v2
    assert(TableLog.dvFiles(t, 2L) == dvs, "prior DVs must survive the append")
    assert(TableLog.committedTxns(t).contains("batch-7"))
    // old files keep their stats (the new range skips all four of them) and
    // the new file has stats (the old range skips it)
    assert(TableLog.prunedFiles(t, "k", Some(120L), Some(140L)) == ((kept, 5)))
    assert(TableLog.prunedFiles(t, "k", Some(1000L), Some(1099L))._1.size == 1)
    assert(TableLog.read(spark, t).count() == 499L)

    // a replay of the same txn is a no-op: no version, no rows
    assert(TableLog.commitOnceAppend(batch, t, "batch-7", statCols = Seq("k")).isEmpty)
    assert(TableLog.versions(t) == Seq(0L, 1L, 2L))
    assert(TableLog.read(spark, t).count() == 499L)

    // a cross-table txn append (statless staged file) keeps the index
    val landed = graft.sources.Txn.commitAll(spark, s"$root/once_append/txns", "x1",
      Seq(graft.sources.Txn.Write(Seq((5000L, 1L)).toDF("k", "payload"), t)))
    assert(landed.values.toSeq == Seq(3L))
    assert(TableLog.dvFiles(t, 3L) == dvs)
    val (kept3, total3) = TableLog.prunedFiles(t, "k", Some(120L), Some(140L))
    assert(total3 == 6 && kept3.size == kept.size + 1,
      s"statless txn file is kept, indexed old files still skip: $kept3")
    assert(TableLog.read(spark, t).count() == 500L)
  }

  test("bloom index: no false negatives ever, real skipping on hash layout, incremental builds") {
    Scratch.wipe(s"$root/bloom")
    val t = s"$root/bloom"
    // hash-clustered on k: every file spans the full range (min/max useless)
    val df = spark.range(0, 400).selectExpr("id AS k", "id * 7 AS v")
      .repartition(8, col("k"))
    TableLog.commitAppend(df, t)
    assert(TableLog.buildBloomIndex(spark, t, "k") == 8)
    // idempotent: nothing new to index
    assert(TableLog.buildBloomIndex(spark, t, "k") == 0)
    // soundness sweep: every present key's pruned read equals the full read
    val full = TableLog.read(spark, t)
    (0L until 400L by 13L).foreach { k =>
      val got = TableLog.readPointLookup(spark, t, "k", k.toString)
        .where(col("k") === k).select("v").as[Long].collect().toSeq
      val want = full.where(col("k") === k).select("v").as[Long].collect().toSeq
      assert(got == want, s"bloom lookup lost rows for k=$k")
    }
    // effectiveness: a point lookup skips most of the 8 files
    val (kept, total) = TableLog.pointLookupFiles(t, "k", "123")
    assert(total == 8 && kept.size < total, s"no skipping: kept ${kept.size} of $total")
    // an absent key usually prunes everything; at minimum it matches nothing
    assert(TableLog.readPointLookup(spark, t, "k", "99999")
      .where(col("k") === 99999L).count() == 0)
    // append: only the NEW files get indexed, lookups stay exact
    TableLog.commitAppend(
      spark.range(400, 450).selectExpr("id AS k", "id * 7 AS v").coalesce(2), t)
    val added = TableLog.buildBloomIndex(spark, t, "k")
    assert(added == 2, s"expected 2 new files indexed, got $added")
    val got2 = TableLog.readPointLookup(spark, t, "k", "425")
      .where(col("k") === 425L).select("v").as[Long].collect().toSeq
    assert(got2 == Seq(425L * 7))
  }

  test("change feed: signed replay reconstructs the snapshot; compaction nets to zero") {
    Scratch.wipe(s"$root/cdf")
    val t = s"$root/cdf"
    TableLog.commitAppend(spark.range(0, 50).selectExpr("id AS k"), t)  // v0
    TableLog.commitAppend(spark.range(50, 80).selectExpr("id AS k"), t) // v1
    TableLog.deleteWhere(spark, t, "k % 4 = 0")                         // v2 (DV)
    TableLog.deleteWhere(spark, t, "k % 6 = 0")                         // v3 (overlap at %12)
    val feed = TableLog.changeFeed(spark, t, -1L, 3L)
    // per-version semantics: v2 deletes exactly the %4 keys, v3 only the
    // %6 keys NOT already dead (the overlap must not re-emit)
    val d2 = feed.where(col("_commit_version") === 2 && col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted.toSeq
    assert(d2 == (0L until 80L).filter(_ % 4 == 0))
    val d3 = feed.where(col("_commit_version") === 3 && col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted.toSeq
    assert(d3 == (0L until 80L).filter(k => k % 6 == 0 && k % 4 != 0))
    // signed replay: (+1 insert, −1 delete) per key folds to the snapshot
    val signed = feed.groupBy("k").agg(
      sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("s"))
    assert(signed.where(col("s") < 0 || col("s") > 1).count() == 0,
      "a key changed more often than its history allows")
    val reconstructed = signed.where(col("s") === 1).select("k").as[Long].collect().sorted.toSeq
    val snapshot = TableLog.read(spark, t).select("k").as[Long].collect().sorted.toSeq
    assert(reconstructed == snapshot)
    // pure compaction: rewrite churn is visible but NETS to zero
    TableLog.optimize(spark, t, nFiles = 1) // v4
    val cf = TableLog.changeFeed(spark, t, 3L, 4L)
    val ins = cf.where(col("_change_type") === "insert").select("k").as[Long].collect().sorted.toSeq
    val del = cf.where(col("_change_type") === "delete").select("k").as[Long].collect().sorted.toSeq
    assert(ins == del, "compaction change feed must net to zero")
    assert(ins == snapshot, "compaction rewrites exactly the snapshot")
  }

  test("followChanges: durable cursor, redelivery on crash, caught-up is a no-op") {
    Scratch.wipe(s"$root/follow")
    Scratch.wipe(s"$root/follow_cursor")
    val t = s"$root/follow"
    val cursor = s"$root/follow_cursor"
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Seq[Long])]()
    def consume(df: org.apache.spark.sql.DataFrame, from: Long, to: Long): Unit =
      seen += ((from, to,
        df.selectExpr("CASE WHEN _change_type = 'insert' THEN k ELSE -k END")
          .as[Long].collect().sorted.toSeq))
    TableLog.commitAppend(spark.range(1, 6).selectExpr("id AS k"), t)
    assert(TableLog.followChanges(spark, t, cursor)(consume).contains((-1L, 0L)))
    TableLog.commitAppend(spark.range(6, 9).selectExpr("id AS k"), t)
    TableLog.deleteWhere(spark, t, "k = 2")
    assert(TableLog.followChanges(spark, t, cursor)(consume).contains((0L, 2L)))
    // caught up: nothing redelivered, cursor untouched
    assert(TableLog.followChanges(spark, t, cursor)(consume).isEmpty)
    assert(seen.map(_._3) == Seq(Seq(1L, 2L, 3L, 4L, 5L), Seq(-2L, 6L, 7L, 8L)))
    // crash between process and advance: the range redelivers verbatim
    TableLog.commitAppend(spark.range(9, 11).selectExpr("id AS k"), t)
    intercept[RuntimeException] {
      TableLog.followChanges(spark, t, cursor) { (_, _, _) =>
        throw new RuntimeException("consumer died")
      }
    }
    assert(TableLog.followChanges(spark, t, cursor)(consume).contains((2L, 3L)))
    assert(seen.last._3 == Seq(9L, 10L))
  }

  test("change feed reads only the requested range's touched files") {
    Scratch.wipe(s"$root/cdf_scope")
    val t = s"$root/cdf_scope"
    TableLog.commitAppend(spark.range(0, 100).selectExpr("id AS k").coalesce(2), t) // v0: 2 files
    TableLog.commitAppend(spark.range(100, 110).selectExpr("id AS k").coalesce(1), t) // v1: 1 file
    assert(TableLog.liveFileCount(t) == 3)
    // the (0, 1] feed must scan ONLY v1's single appended file — the
    // incremental-cost contract (cost scales with the commit, not the table)
    val feed = TableLog.changeFeed(spark, t, 0L, 1L)
    val scannedFiles = feed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scannedFiles == 1, s"(0,1] feed should scan 1 file, scanned $scannedFiles")
    assert(feed.where(col("_change_type") === "insert").count() == 10)
  }

  test("metadataCount answers count(*) from metadata across append/delete/overwrite/optimize") {
    Scratch.wipe(s"$root/mcount")
    val t = s"$root/mcount"
    def check(): Unit = {
      val vs = TableLog.versions(t)
      vs.foreach { v =>
        val meta = TableLog.metadataCount(t, Some(v))
        val real = TableLog.read(spark, t, Some(v)).count()
        assert(meta.contains(real), s"v$v: metadata $meta != scanned $real")
      }
    }
    TableLog.commitAppend(spark.range(0, 100).selectExpr("id AS k"), t); check()
    TableLog.commitAppend(spark.range(100, 130).selectExpr("id AS k"), t); check()
    TableLog.deleteWhere(spark, t, "k % 3 = 0"); check()
    TableLog.deleteWhere(spark, t, "k % 5 = 0"); check() // overlap: %15 keys in both
    TableLog.optimize(spark, t, nFiles = 1); check()     // DVs materialize away
    TableLog.commitOverwrite(spark.range(0, 7).selectExpr("id AS k"), t); check()
    // a table whose sidecar predates the feature degrades to None, never a guess
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, "_log", "rowcounts.txt"))
    assert(TableLog.metadataCount(t).isEmpty)
  }

  test("append after a statless version recovers the stats index from an ancestor") {
    Scratch.wipe(s"$root/stats_heal")
    val t = s"$root/stats_heal"
    TableLog.commitAppend(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), t, statCols = Seq("k"))
    // simulate the crash window: version 1 publishes but its sidecar is lost
    TableLog.commitAppend(
      Seq((3L, 30L)).toDF("k", "v").coalesce(1), t, statCols = Seq("k"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, "_log", "s1.txt"))
    // the next append must inherit v0's surviving stats (not emptiness):
    // pruning on k must still skip v0's file for an out-of-range probe
    TableLog.commitAppend(
      Seq((100L, 1L)).toDF("k", "v").coalesce(1), t, statCols = Seq("k"))
    val (kept, total) = TableLog.prunedFiles(t, "k", Some(90L), Some(200L))
    assert(total == 3)
    // v0's file [1,2] is skipped thanks to the healed index; v1's file (3)
    // is statless → kept (sound), v2's file (100) matches → kept
    assert(kept.size == 2, s"expected healed pruning to keep 2 of 3, kept $kept")
  }

  test("optimize on a statless HEAD still recovers the stats index from an ancestor") {
    Scratch.wipe(s"$root/stats_heal_opt")
    val t = s"$root/stats_heal_opt"
    TableLog.commitAppend(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), t, statCols = Seq("k"))
    TableLog.commitAppend(
      Seq((100L, 30L)).toDF("k", "v").coalesce(1), t, statCols = Seq("k"))
    // crash window: the HEAD version's sidecar is lost before compaction runs
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, "_log", "s1.txt"))
    TableLog.optimizeZOrder(spark, t, "k", "v", nFiles = 2)
    // the compacted version must have re-gathered k stats (recovered from
    // v0's surviving sidecar, not silently dropped): an out-of-range probe
    // still skips the low-key file
    val (kept, total) = TableLog.prunedFiles(t, "k", Some(90L), Some(200L))
    assert(total == 2 && kept.size == 1,
      s"compacted index must skip 1 of 2 files, kept $kept")
    // plain optimize through the same window also keeps the index alive
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, "_log", "s2.txt"))
    TableLog.optimize(spark, t, nFiles = 1)
    assert(TableLog.prunedFiles(t, "k", Some(500L), Some(900L))._1.isEmpty,
      "recovered stats must prune an impossible range to zero files")
  }

  test("rollbackTo: head equals the target again, history intact, feed derives the undo") {
    Scratch.wipe(s"$root/rollback")
    val t = s"$root/rollback"
    TableLog.commitAppend(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), t, statCols = Seq("k")) // v0
    TableLog.deleteWhere(spark, t, "k = 2")                                         // v1
    TableLog.commitOverwrite(Seq((99L, 0L)).toDF("k", "v"), t)                      // v2: the bad write
    val v3 = TableLog.rollbackTo(t, 1L)
    assert(v3 == 3L)
    // head state == the target version, through the DV read path
    assert(TableLog.read(spark, t).select("k").as[Long].collect().toSeq == Seq(1L))
    // nothing was erased: the bad commit still time-travels
    assert(TableLog.read(spark, t, Some(2L)).select("k").as[Long].collect().toSeq == Seq(99L))
    // the stats index survived the round trip (v0's file [1,2] prunable)
    assert(TableLog.prunedFiles(t, "k", Some(100L), Some(200L))._1.isEmpty,
      "restored head must keep pruning on the carried-forward stats")
    // metadata-only count still answers through the restored DVs
    assert(TableLog.metadataCount(t).contains(1L))
    // the change feed derives the undo with no special casing:
    // (2, 3] = delete of the bad row + re-insert of the restored rows
    val feed = TableLog.changeFeed(spark, t, 2L, 3L)
      .selectExpr("CASE WHEN _change_type = 'insert' THEN k ELSE -k END")
      .as[Long].collect().sorted.toSeq
    assert(feed == Seq(-99L, 1L), s"undo feed wrong: $feed")
    // a rollback target below retention refuses loudly
    intercept[IllegalArgumentException](TableLog.rollbackTo(t, 7L))
  }

  test("followChanges past retention: dedicated error, explicit full-snapshot restart") {
    Scratch.wipe(s"$root/follow_ret")
    Scratch.wipe(s"$root/follow_ret_cursor")
    val t = s"$root/follow_ret"
    val cursor = s"$root/follow_ret_cursor"
    TableLog.commitAppend(spark.range(1, 4).selectExpr("id AS k"), t)
    assert(TableLog.followChanges(spark, t, cursor)((_, _, _) => ()).contains((-1L, 0L)))
    TableLog.commitOverwrite(spark.range(10, 13).selectExpr("id AS k"), t)
    TableLog.commitAppend(spark.range(13, 15).selectExpr("id AS k"), t)
    // retention passes: the cursor's version 0 is vacuumed away
    TableLog.vacuum(t, keepVersions = 1)
    assert(TableLog.versions(t) == Seq(2L))
    // default: a dedicated, diagnosable error — never a wedged generic require
    val e = intercept[TableLog.RetentionExceeded] {
      TableLog.followChanges(spark, t, cursor)((_, _, _) => ())
    }
    assert(e.cursor == 0L && e.earliest == 2L)
    // explicit restart: the earliest retained snapshot redelivers as inserts
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val r = TableLog.followChanges(spark, t, cursor, restartOnRetentionExceeded = true) {
      (df, _, _) =>
        seen += df.selectExpr("CASE WHEN _change_type = 'insert' THEN k ELSE -k END")
          .as[Long].collect().sorted.toSeq
    }
    assert(r.contains((-1L, 2L)))
    assert(seen == Seq(Seq(10L, 11L, 12L, 13L, 14L)))
    // the advanced cursor is durable: next call is a caught-up no-op
    assert(TableLog.followChanges(spark, t, cursor)((_, _, _) => ()).isEmpty)
  }

  test("followChanges cursor AHEAD of head: loud lineage error, never a silent wedge") {
    Scratch.wipe(s"$root/follow_ahead")
    Scratch.wipe(s"$root/follow_ahead_cursor")
    val t = s"$root/follow_ahead"
    val cursor = s"$root/follow_ahead_cursor"
    TableLog.commitAppend(spark.range(1, 4).selectExpr("id AS k"), t)
    TableLog.commitAppend(spark.range(4, 6).selectExpr("id AS k"), t)
    assert(TableLog.followChanges(spark, t, cursor)((_, _, _) => ()).contains((-1L, 1L)))
    // the log is dropped and recreated at the same path: head is now BEHIND
    // the durable cursor — a lineage break, not "caught up"
    Scratch.wipe(t)
    TableLog.commitAppend(spark.range(20, 23).selectExpr("id AS k"), t)
    val e = intercept[TableLog.RetentionExceeded] {
      TableLog.followChanges(spark, t, cursor)((_, _, _) => ())
    }
    assert(e.cursor == 1L && e.earliest == 0L)
    // explicit restart resumes from the full snapshot of the NEW lineage
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val r = TableLog.followChanges(spark, t, cursor, restartOnRetentionExceeded = true) {
      (df, _, _) => seen += df.selectExpr("k").as[Long].collect().sorted.toSeq
    }
    assert(r.contains((-1L, 0L)))
    assert(seen == Seq(Seq(20L, 21L, 22L)))
    assert(TableLog.followChanges(spark, t, cursor)((_, _, _) => ()).isEmpty)
  }

  test("changeFeedCdc: UPDATE emits O(k) update pairs, churn nets out, folds replay") {
    Scratch.wipe(s"$root/cdc")
    val t = s"$root/cdc/t"
    // one data file of 10k rows — the file-granular UPDATE rewrite touches
    // ALL of them, so the plain feed over-reports by 2×file while the CDC
    // feed must emit exactly the k touched rows as update pairs
    TableLog.commitAppend(
      spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS v").coalesce(1), t) // v0
    spark.conf.set("spark.sql.catalog.gcdc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdc.root", s"$root/cdc")
    spark.sql("UPDATE gcdc.t SET v = v + 1 WHERE k >= 100 AND k < 105")          // v1
    val plain = TableLog.changeFeed(spark, t, 0L, 1L).count()
    assert(plain == 20000L, s"plain feed re-emits the whole rewritten file: $plain")
    val cdc = TableLog.changeFeedCdc(spark, t, 0L, 1L, Seq("k")).collect()
    assert(cdc.length == 10, s"expected 5 update pairs, got ${cdc.length} rows")
    val byType = cdc.groupBy(_.getAs[String]("_change_type"))
    assert(byType.keySet == Set("update_preimage", "update_postimage"))
    assert(byType("update_preimage").map(r => (r.getAs[Long]("k"), r.getAs[Long]("v")))
      .sortBy(_._1).toSeq == (100L until 105L).map(k => (k, k * 2)))
    assert(byType("update_postimage").map(r => (r.getAs[Long]("k"), r.getAs[Long]("v")))
      .sortBy(_._1).toSeq == (100L until 105L).map(k => (k, k * 2 + 1)))

    // insert-only and DV-delete commits pass through untouched
    TableLog.commitAppend(
      spark.range(20000, 20003).selectExpr("id AS k", "id AS v"), t)             // v2
    TableLog.deleteWhere(spark, t, "k < 3")                                      // v3 (DV)
    val tail = TableLog.changeFeedCdc(spark, t, 1L, 3L, Seq("k")).collect()
    assert(tail.count(_.getAs[String]("_change_type") == "insert") == 3)
    assert(tail.count(_.getAs[String]("_change_type") == "delete") == 3)
    assert(tail.length == 6)

    // compaction churn nets to ZERO rows (plain feed emits 2×table here)
    TableLog.optimize(spark, t)                                                  // v4
    assert(TableLog.changeFeedCdc(spark, t, 3L, 4L, Seq("k")).isEmpty,
      "a pure compaction must emit no CDC rows")

    // signed fold over the whole feed replays the final snapshot exactly
    val feed = TableLog.changeFeedCdc(spark, t, -1L, 4L, Seq("k"))
    val sgn = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val folded = feed.groupBy(col("k")).agg(sum(sgn).as("alive"),
      sum(sgn * col("v")).as("v"))
      .where(col("alive") > 0).select(col("k"), col("v"))
    val direct = TableLog.read(spark, t).select(col("k"), col("v"))
    assert(folded.exceptAll(direct).isEmpty && direct.exceptAll(folded).isEmpty,
      "signed CDC fold diverged from the direct read")
  }

  test("followChangesCdc: durable cursor delivers update images, not rewrite churn") {
    Scratch.wipe(s"$root/cdcfollow")
    val t = s"$root/cdcfollow/t"
    val cursor = s"$root/cdcfollow/cursor"
    TableLog.commitAppend(
      spark.range(0, 1000).selectExpr("id AS k", "id AS v").coalesce(1), t)   // v0
    spark.conf.set("spark.sql.catalog.gcdcf",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdcf.root", s"$root/cdcfollow")
    spark.sql("UPDATE gcdcf.t SET v = v + 1 WHERE k < 3")                     // v1
    val seen = collection.mutable.ArrayBuffer.empty[(String, Long)]
    def drainOnce(): Option[(Long, Long)] =
      TableLog.followChangesCdc(spark, t, cursor, Seq("k")) { (df, _, _) =>
        seen ++= df.groupBy("_change_type").count()
          .collect().map(r => (r.getString(0), r.getLong(1)))
      }
    assert(drainOnce().contains((-1L, 1L)))
    // v0's 1000 inserts + exactly 3 update pairs — never the 1000-row churn
    assert(seen.toMap == Map("insert" -> 1000L,
      "update_preimage" -> 3L, "update_postimage" -> 3L), s"got $seen")
    assert(drainOnce().isEmpty, "caught-up follower must be a no-op")
    // the next UPDATE delivers only ITS pairs, from the durable cursor
    seen.clear()
    spark.sql("UPDATE gcdcf.t SET v = v + 1 WHERE k = 500")                   // v2
    assert(drainOnce().contains((1L, 2L)))
    assert(seen.toMap == Map("update_preimage" -> 1L, "update_postimage" -> 1L))
  }

  test("version tags: named time travel, vacuum protection, write-once names") {
    Scratch.wipe(s"$root/tags")
    val t = s"$root/tags/t"
    TableLog.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)  // v0
    TableLog.commitOverwrite(Seq((9L, "z")).toDF("k", "v"), t)          // v1
    TableLog.commitAppend(Seq((10L, "y")).toDF("k", "v"), t)            // v2
    TableLog.tagVersion(t, "release-1", 0L)
    assert(TableLog.refs(t) == Map("release-1" -> 0L))
    // write-once: re-pointing a name readers may hold is refused
    intercept[IllegalArgumentException](TableLog.tagVersion(t, "release-1", 1L))
    // digits-only names would shadow numeric time travel
    intercept[IllegalArgumentException](TableLog.tagVersion(t, "123", 1L))
    // tagging an uncommitted version is refused
    intercept[IllegalArgumentException](TableLog.tagVersion(t, "nope", 99L))

    // the tag resolves through the SQL catalog's VERSION AS OF
    spark.conf.set("spark.sql.catalog.gtags",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtags.root", s"$root/tags")
    assert(spark.sql("SELECT count(*) AS n FROM gtags.t VERSION AS OF 'release-1'")
      .collect().head.getLong(0) == 2L)
    // an unknown tag fails loud, naming the known ones
    val e = intercept[Exception](
      spark.sql("SELECT * FROM gtags.t VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("release-1"), s"error must list known tags: ${e.getMessage}")

    // tags are SQL-visible via the refs metadata table
    val refRows = spark.sql("SELECT tag, version FROM gtags.t.refs")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(refRows == Seq(("release-1", 0L)), s"refs table wrong: $refRows")

    // vacuum PROTECTS the tagged snapshot past the retention window — and
    // never crosses it (only untagged PREFIXES reclaim, so the delta chain
    // above the tag stays contiguous: v1 survives because v0 is tagged)
    val (dropped, _) = TableLog.vacuum(t, keepVersions = 1)
    assert(dropped.isEmpty, s"retention must stop at the oldest tag, dropped $dropped")
    assert(TableLog.read(spark, t, Some(0L)).count() == 2L,
      "tagged snapshot must stay readable after vacuum")
    assert(TableLog.read(spark, t, Some(1L)).count() == 1L,
      "the delta chain above the tag must stay intact")
    assert(TableLog.read(spark, t).count() == 2L) // head (v2) intact
    // the change feed across the protected range still derives exactly
    assert(TableLog.changeFeed(spark, t, 0L, 2L).count() > 0)
    // ...and untagging releases the prefix to the next vacuum
    assert(TableLog.untagVersion(t, "release-1"))
    assert(!TableLog.untagVersion(t, "release-1"))
    val (dropped2, _) = TableLog.vacuum(t, keepVersions = 1)
    assert(dropped2 == Seq(0L, 1L))
    intercept[IllegalArgumentException](TableLog.read(spark, t, Some(0L)))
  }

  test("cdcStream: update images arrive per trigger; a restarted stream resumes from the cursor") {
    Scratch.wipe(s"$root/cdcstream")
    val t = s"$root/cdcstream/t"
    val cursor = s"$root/cdcstream/cursor"
    val ckpt = s"$root/cdcstream/ckpt"
    TableLog.commitAppend(
      spark.range(0, 1000).selectExpr("id AS k", "id AS v").coalesce(1), t)  // v0
    spark.conf.set("spark.sql.catalog.gcdcs",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdcs.root", s"$root/cdcstream")
    val seen = collection.mutable.ArrayBuffer.empty[(String, Long)]
    def collectTypes(df: org.apache.spark.sql.DataFrame, from: Long, to: Long): Unit =
      seen ++= df.groupBy("_change_type").count()
        .collect().map(r => (r.getString(0), r.getLong(1)))
    val q = TableLog.cdcStream(spark, t, cursor, Seq("k"), ckpt)(collectTypes)
    try {
      q.processAllAvailable()
      assert(seen.toMap == Map("insert" -> 1000L), s"initial snapshot: $seen")
      seen.clear()
      spark.sql("UPDATE gcdcs.t SET v = v + 1 WHERE k < 3")                  // v1
      q.processAllAvailable()
      assert(seen.toMap == Map("update_preimage" -> 3L, "update_postimage" -> 3L),
        s"update images must arrive within the trigger: $seen")
    } finally { q.stop(); q.awaitTermination() }
    // a restarted stream resumes from the CURSOR — no re-delivery, and the
    // next commit arrives exactly once
    seen.clear()
    spark.sql("UPDATE gcdcs.t SET v = v + 1 WHERE k = 77")                   // v2
    val q2 = TableLog.cdcStream(spark, t, cursor, Seq("k"), ckpt)(collectTypes)
    try {
      q2.processAllAvailable()
      assert(seen.toMap == Map("update_preimage" -> 1L, "update_postimage" -> 1L),
        s"restart must deliver only the unseen range: $seen")
    } finally { q2.stop(); q2.awaitTermination() }
  }

  test("changeFeedCdc across schema evolution: null-backfilled pre rows net exactly") {
    Scratch.wipe(s"$root/cdcevo")
    val t = s"$root/cdcevo/t"
    TableLog.commitAppend(
      spark.range(0, 100).selectExpr("id AS k", "id AS v").coalesce(1), t)     // v0 (no 'w')
    spark.conf.set("spark.sql.catalog.gcdce",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdce.root", s"$root/cdcevo")
    spark.sql("ALTER TABLE gcdce.t ADD COLUMN w BIGINT")                       // v1
    // the UPDATE rewrites pre-evolution FILES whose rows lack 'w': the pre
    // side must null-backfill so unchanged riders (w null on both sides)
    // net out, and the touched rows emit images with the evolved schema
    spark.sql("UPDATE gcdce.t SET w = 7 WHERE k < 2")                          // v2
    val cdc = TableLog.changeFeedCdc(spark, t, 1L, 2L, Seq("k")).collect()
    assert(cdc.length == 4, s"expected 2 update pairs, got ${cdc.length}:\n${cdc.mkString("\n")}")
    val post = cdc.filter(_.getAs[String]("_change_type") == "update_postimage")
    assert(post.forall(r => r.getAs[Long]("w") == 7L))
    val pre = cdc.filter(_.getAs[String]("_change_type") == "update_preimage")
    assert(pre.forall(r => r.isNullAt(r.fieldIndex("w"))),
      "pre-evolution preimages must carry NULL for the added column")
  }

  test("shallow clone: zero-copy hard links, isolated histories, DVs and stats carry") {
    Scratch.wipe(s"$root/clonesrc")
    Scratch.wipe(s"$root/clonedst")
    val src = s"$root/clonesrc"
    val dst = s"$root/clonedst"
    TableLog.commitAppend(
      spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(4, col("k")), src, statCols = Seq("k"))      // v0
    TableLog.deleteWhere(spark, src, "k % 10 = 3")                       // v1 (DV)
    TableLog.commitAppend(spark.range(1000, 1100)
      .selectExpr("id AS k", "id * 2 AS v").coalesce(1), src)            // v2

    val cv = TableLog.cloneTable(src, dst)
    assert(cv == 0L, "a clone starts its own history at v0")
    // content identity at the cloned snapshot (DV subtraction included)
    val a = TableLog.read(spark, src).collect().map(_.toString).sorted.toSeq
    val b = TableLog.read(spark, dst).collect().map(_.toString).sorted.toSeq
    assert(a == b, "clone must read exactly the source snapshot")

    // ZERO-COPY: every cloned data file shares its inode with the source
    val linked = new java.io.File(s"$dst/data").listFiles.filter(_.getName.endsWith(".parquet"))
    assert(linked.nonEmpty)
    linked.foreach { f =>
      val n = java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
        .asInstanceOf[Number].intValue
      assert(n >= 2, s"${f.getName} must be a hard link (nlink=$n)")
    }

    // metadata carries: row counts answer count(*) without a scan, stats prune
    // head = 1000 (v0) + 100 (v2 append) - 100 (v1 DV) rows
    assert(TableLog.metadataCount(dst).contains(1000L),
      s"cloned row counts + DVs must serve metadataCount, got ${TableLog.metadataCount(dst)}")
    val (kept, total) = TableLog.prunedFiles(dst, "k", Some(0L), Some(10L))
    assert(total >= 4 && kept.size < total,
      s"cloned stats must prune ($kept of $total kept)")

    // time-travel clone pins the requested version (v1 = post-DV, pre-append)
    Scratch.wipe(s"$root/clonedst0")
    TableLog.cloneTable(src, s"$root/clonedst0", asOf = Some(1L))
    assert(TableLog.read(spark, s"$root/clonedst0").count() == 900L,
      "asOf=1 clones the post-delete snapshot")
    // a non-empty target refuses
    intercept[IllegalArgumentException](TableLog.cloneTable(src, dst))

    // HISTORY ISOLATION: a delete in the clone never reaches the source
    TableLog.deleteWhere(spark, dst, "k < 500")
    assert(TableLog.read(spark, src).count() == 1000L, "source must be untouched")
    assert(TableLog.read(spark, dst).count() == 550L) // 1000 - (500 - 50 already DV'd)
    // ...and vacuuming the source does not break the clone (shared inodes
    // survive until the LAST link drops)
    TableLog.commitOverwrite(Seq((1L, 1L)).toDF("k", "v"), src)
    val _ = TableLog.vacuum(src, 1)
    assert(TableLog.read(spark, dst, Some(0L)).count() == 1000L,
      "the clone's v0 must survive a source vacuum")
  }

  test("buildStatsIndex: footer-only ANALYZE enables pruning; optimizeToSize sizes by bytes") {
    Scratch.wipe(s"$root/analyze")
    val t = s"$root/analyze/t"
    // committed WITHOUT statCols — the retrofit case
    TableLog.commitAppend(
      spark.range(0, 4000).selectExpr("id AS k", "id % 7 AS v", "'x' AS s")
        .repartitionByRange(8, col("k")), t)
    assert(TableLog.prunedFiles(t, "k", Some(0L), Some(10L))._1.size == 8,
      "without stats every file is kept")
    val n = TableLog.buildStatsIndex(t, Seq("k", "v", "s"))
    // k and v are INT64, s is BINARY-UTF8 — since round 13 ALL THREE index
    // (string footer stats emit 'S' sidecar lines)
    assert(n == 24, s"expected 8 files x 3 columns, got $n")
    val (kept, total) = TableLog.prunedFiles(t, "k", Some(0L), Some(10L))
    assert(total == 8 && kept.size == 1,
      s"footer stats must prune range-clustered files ($kept)")
    // the constant string column's range is the point ['x', 'x']
    assert(TableLog.prunedFiles(t, "s", Some(Utf8("x")), Some(Utf8("x")))._1.size == 8)
    assert(TableLog.prunedFiles(t, "s", Some(Utf8("y")), None)._1.isEmpty)
    // the index reflects PHYSICAL ranges — correct data, re-run idempotent
    assert(TableLog.buildStatsIndex(t, Seq("k", "v", "s")) == 24)
    assert(TableLog.read(spark, t).count() == 4000L)

    // optimizeToSize: derive the file count from live bytes. Pin small input
    // splits for the toy files — optimize compacts via coalesce (no shuffle,
    // clustering preserved), which can only SPLIT DOWN from the scan's
    // partition count, and the default 128 MB packing would fuse 8 KB files
    // into one split
    val (mpb, oc) = (spark.conf.get("spark.sql.files.maxPartitionBytes"),
      spark.conf.get("spark.sql.files.openCostInBytes"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    spark.conf.set("spark.sql.files.openCostInBytes", "8192")
    try {
      // one commit so far: every file under data/ is live
      val bytes = new java.io.File(s"$t/data").listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val v = TableLog.optimizeToSize(spark, t, (bytes / 2) + 1)
      assert(v > 0)
      val after = TableLog.liveFileCount(t)
      assert(after == 2, s"half-the-bytes target must compact 8 -> 2 files, got $after")
      assert(TableLog.read(spark, t).count() == 4000L)
      // a target larger than the table compacts to exactly 1 file
      TableLog.optimizeToSize(spark, t, bytes * 10)
      assert(TableLog.liveFileCount(t) == 1)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
      spark.conf.set("spark.sql.files.openCostInBytes", oc)
    }
  }

  test("optimizeZOrderN: 3-way Morton clustering prunes on every dimension") {
    Scratch.wipe(s"$root/zn")
    val t = s"$root/zn/t"
    // 3 independent dimensions, 16 values each, uniformly crossed (4096 rows)
    TableLog.commitAppend(
      spark.range(0, 4096).selectExpr(
        "id % 16 AS a", "(id DIV 16) % 16 AS b", "(id DIV 256) % 16 AS c",
        "id AS payload").coalesce(1), t)
    val v = TableLog.optimizeZOrderN(spark, t, Seq("a", "b", "c"), nFiles = 8)
    assert(v == 1L && TableLog.liveFileCount(t) == 8)
    // every dimension's per-file range is tight enough to prune a point band
    for (d <- Seq("a", "b", "c")) {
      val (kept, total) = TableLog.prunedFiles(t, d, Some(0L), Some(1L))
      assert(total == 8 && kept.size < total,
        s"dimension $d must prune after 3-way z-order ($kept of $total kept)")
    }
    // pruned reads stay exact on each dimension
    for (d <- Seq("a", "b", "c")) {
      val got = TableLog.readPruned(spark, t, d, Some(0L), Some(1L))
        .where(col(d) <= 1L).count()
      assert(got == 512L, s"dimension $d pruned read must keep 2 of 16 values, got $got")
    }
    // arity guard
    intercept[IllegalArgumentException](
      TableLog.optimizeZOrderN(spark, t, Seq("a"), nFiles = 2))
  }

  test("z-order over a STRING dimension: both string and long predicates prune") {
    Scratch.wipe(s"$root/zs")
    val t = s"$root/zs/t"
    // 20 brands × 200 keys, row-major (unclustered in either dimension
    // after the hash repartition)
    TableLog.commitAppend(
      spark.range(0, 4000).selectExpr(
        "format_string('brand%02d', id % 20) AS brand",
        "id DIV 20 AS k", "id AS payload").repartition(8), t)
    val v = TableLog.optimizeZOrderN(spark, t, Seq("brand", "k"), nFiles = 16)
    assert(v == 1L && TableLog.liveFileCount(t) == 16)
    // the STRING dimension prunes via its 'S' sidecar lines
    val (keptS, totalS) = TableLog.prunedFiles(
      t, "brand", Some(Utf8("brand03")), Some(Utf8("brand04")))
    assert(totalS == 16 && keptS.size < totalS,
      s"string dim must prune after z-order ($keptS of $totalS kept)")
    // ... and the LONG dimension prunes too
    val (keptK, _) = TableLog.prunedFiles(t, "k", Some(0L), Some(20L))
    assert(keptK.size < 16, s"long dim must prune after z-order (${keptK.size} of 16)")
    // pruned reads stay exact on the string band
    val got = TableLog.readPruned(spark, t, "brand", Some(Utf8("brand03")), Some(Utf8("brand04")))
      .where(col("brand") >= "brand03" && col("brand") <= "brand04").count()
    assert(got == 400L, s"expected 2 of 20 brands (400 rows), got $got")
  }

  test("changeFeedCdc: duplicate keys in a rewrite commit fail loudly, never multiply") {
    Scratch.wipe(s"$root/cdcdup")
    val t = s"$root/cdcdup/t"
    TableLog.commitAppend(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v").coalesce(1), t)  // v0
    // overwrite = removed+added in one commit → the netting join runs
    TableLog.commitOverwrite(
      Seq((1L, "x"), (2L, "c")).toDF("k", "v").coalesce(1), t)             // v1
    val e = intercept[Throwable] {
      TableLog.changeFeedCdc(spark, t, 0L, 1L, Seq("k")).collect()
    }
    def chain(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else x.getMessage +: chain(x.getCause)
    assert(chain(e).exists(m => m != null && m.contains("duplicate key")),
      s"expected a loud duplicate-key failure, got: ${chain(e).mkString(" | ")}")
  }

  test("table-log text bytes: props, constraints, refs, ndv and row counts") {
    import java.nio.file.{Files, Paths}
    Scratch.wipe(s"$root/bytes")
    val t = s"$root/bytes/t"
    def text(name: String) = new String(
      Files.readAllBytes(Paths.get(t, "_log", name)), java.nio.charset.StandardCharsets.UTF_8)
    def dataFiles = new java.io.File(s"$t/data").listFiles().map(_.getName).toSet
    TableLog.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    val Seq(f0) = dataFiles.toSeq
    TableLog.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    val Seq(f1) = (dataFiles - f0).toSeq
    // append-only: every line ends in a newline
    assert(text("rowcounts.txt") == s"data/$f0|2\ndata/$f1|1\n")
    // whole-file sidecars: lines joined by newlines, no trailing newline
    TableLog.setTableProp(t, "graft.b", "2")
    TableLog.setTableProp(t, "graft.a", "x,y")
    assert(text("props.txt") == "graft.a|x,y\ngraft.b|2")
    TableLog.unsetTableProp(t, "graft.a")
    TableLog.unsetTableProp(t, "graft.b")
    assert(text("props.txt") == "")
    TableLog.addCheckConstraint(t, "pos", "k > 0")
    TableLog.addCheckConstraint(t, "small", "k < 10")
    assert(text("constraints.txt") == "pos|k > 0\nsmall|k < 10")
    TableLog.dropCheckConstraint(t, "pos")
    assert(text("constraints.txt") == "small|k < 10")
    TableLog.tagVersion(t, "zeta", 0L)
    TableLog.tagVersion(t, "alpha", 1L)
    assert(text("refs.txt") == "alpha|1\nzeta|0")
    TableLog.buildNdvIndex(spark, t, Seq("k", "v"))
    assert(text("ndv.txt") == "1|k|3\n1|v|3")
    val logFiles = new java.io.File(s"$t/_log").listFiles().map(_.getName).toSet
    assert(logFiles == Set("v0.txt", "v1.txt", "rowcounts.txt", "props.txt",
      "constraints.txt", "refs.txt", "ndv.txt"), "no temp file left behind")
  }

  test("a sidecar rewrite never shows a reader a half-written file") {
    Scratch.wipe(s"$root/atomic")
    val t = s"$root/atomic/t"
    TableLog.addCheckConstraint(t, "c1", "k > 0")
    TableLog.setTableProp(t, TableLog.ClusterByProp, "k")
    // a writer thread flips `write(true)` / `write(false)` while this thread
    // reads 5 000 times; every read must see the line no writer touches
    def race(write: Boolean => Unit)(intact: => Boolean): Unit = {
      @volatile var stop = false
      @volatile var failure: Option[Throwable] = None
      val writes = new java.util.concurrent.atomic.AtomicLong
      val writer = new Thread(() =>
        try {
          var on = true
          while (!stop) { write(on); on = !on; writes.incrementAndGet() }
        } catch { case e: Throwable => failure = Some(e) })
      writer.start()
      val missed = try (1 to 5000).count(_ => !intact)
        finally { stop = true; writer.join() }
      assert(failure.isEmpty, failure)
      assert(writes.get > 0, "the writer never ran")
      assert(missed == 0, s"$missed of 5000 reads saw a half-written sidecar")
    }
    race(on =>
      if (on) TableLog.addCheckConstraint(t, "c2", "k < 100")
      else TableLog.dropCheckConstraint(t, "c2")) {
      TableLog.checkConstraints(t).contains("c1" -> "k > 0")
    }
    race(on =>
      if (on) TableLog.setTableProp(t, "graft.other", "1")
      else TableLog.unsetTableProp(t, "graft.other")) {
      TableLog.tableProps(t).get(TableLog.ClusterByProp).contains("k")
    }
  }

  test("a torn row-count or bucket append is never misread") {
    import java.nio.file.{Files, Path, Paths}
    import java.nio.charset.StandardCharsets.UTF_8
    Scratch.wipe(s"$root/torn")
    // a crash mid-append leaves the last line cut after its value's first
    // digit and without its newline
    def tear(p: Path, line: String): Unit = {
      val rest = new String(Files.readAllBytes(p), UTF_8).split('\n').filterNot(_ == line)
      Files.write(p, (rest :+ line.substring(0, line.lastIndexOf('|') + 2))
        .mkString("\n").getBytes(UTF_8))
    }
    val t = s"$root/torn/t"
    val rc = Paths.get(t, "_log", "rowcounts.txt")
    def countsAgree() = assert(
      TableLog.metadataCount(t).forall(_ == TableLog.read(spark, t).count()))
    TableLog.commitAppend(spark.range(100).toDF("k").coalesce(1), t)
    tear(rc, new String(Files.readAllBytes(rc), UTF_8).trim)
    countsAgree()
    assert(TableLog.metadataCount(t).isEmpty, "a torn count is absent, not short")
    // the next append lands on the torn tail; the merged line is dropped
    TableLog.commitAppend(spark.range(5).toDF("k").coalesce(1), t)
    countsAgree()
    TableLog.commitAppend(spark.range(7).toDF("k").coalesce(1), t)
    countsAgree()
    assert(new String(Files.readAllBytes(rc), UTF_8).endsWith("|7\n"),
      "a later append lands on a line of its own")

    val b = s"$root/torn/b"
    TableLog.commitAppend(spark.range(400).toDF("k"), b, bucketBy = Some(("k", 16)))
    val bf = Paths.get(b, "_log", "buckets.txt")
    val before = TableLog.fileBuckets(b)
    val (cut, id) = before.find(_._2 >= 10).get
    tear(bf, s"$cut|$id")
    assert(TableLog.fileBuckets(b) == before - cut, "a torn bucket id is absent, not wrong")
  }

  test("restore refuses a backup whose MANIFEST is cut short") {
    import java.nio.file.{Files, Paths}
    Scratch.wipe(s"$root/shortbak")
    val (src, bak, dst) = (s"$root/shortbak/src", s"$root/shortbak/bak", s"$root/shortbak/dst")
    TableLog.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), src)
    TableLog.backup(spark, src, bak)
    val mf = Paths.get(bak, "MANIFEST")
    Files.write(mf, Files.readAllLines(mf).get(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ex = intercept[IllegalArgumentException](TableLog.restore(spark, bak, dst))
    assert(ex.getMessage.contains("integrity"), s"wrong failure: ${ex.getMessage}")
    assert(TableLog.versions(dst).isEmpty)
  }
}
