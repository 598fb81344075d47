package graft

import graft.sources.TableLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The DSv2 streaming change-feed source ([[graft.sources.TableChangeSource]]):
  * per-trigger commit admission, checkpointed restart resume (exactly-once
  * delivery of every version), DV deltas surfaced as deletes, compaction
  * churn netting to zero, typed column round-trips, and column pruning
  * pushing into the per-file read.
  */
class TableChangeSourceSpec extends SparkSpec {
  import spark.implicits._

  private val base = "/tmp/graft_test_tchange"

  /** drain the feed into (batch, version-set, signed k values) triples */
  private def drain(
      table: String, ckpt: String,
      acc: collection.mutable.ArrayBuffer[(Long, Set[Long], Seq[Long])]): Unit = {
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", table).option("versionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.select(col("_commit_version"),
          when(col("_change_type") === "insert", col("k")).otherwise(-col("k")).as("sk"))
          .collect()
        if (rows.nonEmpty)
          acc += ((id, rows.map(_.getLong(0)).toSet, rows.map(_.getLong(1)).sorted.toSeq))
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
  }

  test("one commit per trigger; DV deletes; compaction nets zero; checkpoint resume is exactly-once") {
    Scratch.wipe(base)
    val t = s"$base/t"
    val ckpt = s"$base/ckpt"
    TableLog.commitAppend(spark.range(1, 6).selectExpr("id AS k"), t)  // v0
    TableLog.commitAppend(spark.range(6, 9).selectExpr("id AS k"), t)  // v1
    TableLog.deleteWhere(spark, t, "k = 2")                            // v2: DV delta
    TableLog.optimize(spark, t, nFiles = 1)                            // v3: churn

    val out = collection.mutable.ArrayBuffer.empty[(Long, Set[Long], Seq[Long])]
    drain(t, ckpt, out)

    // admission: each micro-batch carries exactly ONE commit version
    assert(out.forall(_._2.size == 1), s"a batch mixed versions: $out")
    assert(out.flatMap(_._2).toSet == Set(0L, 1L, 2L, 3L), s"versions seen: $out")
    // v2 is the DV-delta delete of k=2, from a PERSISTING file
    val v2 = out.find(_._2 == Set(2L)).get._3
    assert(v2 == Seq(-2L), s"v2 should be exactly the DV delete of 2, got $v2")
    // the signed fold reconstructs the final state (compaction nets to zero)
    val folded = out.flatMap(_._3).groupBy(math.abs).view
      .mapValues(_.map(math.signum).sum).filter(_._2 > 0).keySet
    assert(folded == Set(1L, 3L, 4L, 5L, 6L, 7L, 8L),
      s"signed fold diverged from the live snapshot: $folded")

    // restart on the same checkpoint with no new commits: nothing re-admitted
    val before = out.size
    drain(t, ckpt, out)
    assert(out.size == before, "restart re-delivered committed versions")

    // a new commit after restart delivers exactly once, from the checkpoint
    TableLog.commitAppend(spark.range(9, 11).selectExpr("id AS k"), t) // v4
    drain(t, ckpt, out)
    assert(out.drop(before).map(_._2) == Seq(Set(4L)) &&
      out.last._3 == Seq(9L, 10L), s"post-restart delivery wrong: ${out.drop(before)}")
  }

  test("adaptive admission: a slow batch halves the next cap, fast batches recover it, exactly-once") {
    Scratch.wipe(s"$base/adapt")
    val t = s"$base/adapt/t"
    val ckpt = s"$base/adapt/ckpt"
    (0 until 32).foreach(i =>
      TableLog.commitAppend(Seq((i.toLong, i.toLong)).toDF("k", "v"), t)) // v0..v31

    // target 2s: the FIRST non-empty batch sleeps 4.5s (over target →
    // halve), later batches are fast (well under target → double back).
    // The engine plans batch N+1's offsets BEFORE committing batch N, so
    // the halving lands one batch later — shape: 4, 4, 2, then recovery.
    // Margins are WIDE on purpose: a batch's measured time spans one full
    // engine cycle (commit tail + run + next plan), which on a contended
    // host reached ~600 ms against the original 400 ms target and halved
    // "fast" batches too; 32 versions keep enough runway for a full-cap
    // batch after recovery even if a stray GC pause costs an extra halve.
    val batches = collection.mutable.ArrayBuffer.empty[Set[Long]]
    var slept = false
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).option("versionsPerTrigger", "4")
      .option("targetBatchMs", "2000").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.select("_commit_version").collect().map(_.getLong(0)).toSet
        if (vs.nonEmpty) {
          batches += vs
          if (!slept) { slept = true; Thread.sleep(4500) }
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    val sizes = batches.map(_.size).toSeq
    assert(sizes.head == 4, s"first batch should admit the full cap: $sizes")
    assert(sizes.contains(2), s"the slow batch must HALVE a following admission: $sizes")
    // multiplicative recovery back toward the configured cap: a LATER batch
    // (after the first shrunken one) admits the full cap again
    val firstHalved = sizes.indexOf(2)
    assert(sizes.drop(firstHalved + 1).exists(_ == 4),
      s"fast batches must recover the cap: $sizes")
    // exactly-once across the adaptation: every version delivered once
    val all = batches.flatten
    assert(all.size == 32 && all.toSet == (0L until 32L).toSet,
      s"adaptation broke delivery: $batches")
  }

  test("typed columns round-trip the Group-API read (timestamp/date/decimal/int/double/string)") {
    Scratch.wipe(s"$base/typed")
    val t = s"$base/typed"
    val df = spark.range(0, 5).select(
      col("id").as("k"),
      col("id").cast("int").as("i"),
      (col("id") * 1.5).as("d"),
      concat(lit("s"), col("id")).as("s"),
      to_timestamp(lit("2024-03-01 10:00:00")).as("ts"),
      to_date(lit("2024-03-02")).as("dt"),
      (col("id") + 0.25).cast("decimal(10,2)").as("m"),
      (col("id") % 2 === 0).as("b"))
    TableLog.commitAppend(df, t)
    val got = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).load()
      .writeStream.option("checkpointLocation", s"$base/typed/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.drop("_change_type", "_commit_version").collect()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val want = TableLog.read(spark, t).collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq,
      s"typed round-trip diverged:\n got ${got.sortBy(_.getLong(0))}\nwant ${want.sortBy(_.getLong(0)).toSeq}")
  }

  test("columns option projects at the file read: unsupported columns cost nothing unless listed") {
    Scratch.wipe(s"$base/pruned")
    val t = s"$base/pruned"
    // an ARRAY column the Group-API reader cannot convert — projecting
    // around it must work, which proves the projection reached the reader
    // (a plain .select would NOT: streaming micro-batch scans never get the
    // DSv2 column-pruning pushdown, verified by this spec's first draft)
    TableLog.commitAppend(
      spark.range(1, 4).selectExpr("id AS k", "array(id, id + 1) AS arr"), t)
    val seen = collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).option("columns", "k").load()
      .select("k")
      .writeStream.option("checkpointLocation", s"$base/pruned/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= b.as[Long].collect(); ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("array columns round-trip the Group-API read (nulls, empties, null elements)") {
    Scratch.wipe(s"$base/arr")
    val t = s"$base/arr"
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1.5F, -2.25F), array(10L, 20L), array('a', 'b')),
        |  (1L, array(CAST(NULL AS FLOAT), 3.5F), array(CAST(NULL AS LONG)), array('', 'x')),
        |  (2L, array(CAST(NULL AS FLOAT)), CAST(NULL AS ARRAY<LONG>), array(CAST(NULL AS STRING))),
        |  (3L, array(), array(), array())
        |AS t(k, fa, la, sa)""".stripMargin)
    TableLog.commitAppend(df, t)
    val got = collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).load()
      .writeStream.option("checkpointLocation", s"$base/arr/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.drop("_change_type", "_commit_version").collect().map(_.toString)
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val want = TableLog.read(spark, t).collect().map(_.toString)
    assert(got.sorted.toSeq == want.sorted.toSeq,
      s"array round-trip diverged:\n got ${got.sorted.toSeq}\nwant ${want.sorted.toSeq}")
  }

  test("nested columns round-trip: structs, struct-of-struct, array-of-struct, maps") {
    Scratch.wipe(s"$base/nested")
    val t = s"$base/nested"
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, named_struct('a', 1L, 'inner', named_struct('x', 1.5D, 'y', 'p')),
        |       array(named_struct('q', 10L), named_struct('q', CAST(NULL AS LONG))),
        |       map('k1', 100L, 'k2', CAST(NULL AS LONG))),
        |  (1L, named_struct('a', CAST(NULL AS LONG),
        |                    'inner', named_struct('x', CAST(NULL AS DOUBLE), 'y', '')),
        |       array(CAST(NULL AS STRUCT<q: LONG>)),
        |       map()),
        |  (2L, CAST(NULL AS STRUCT<a: LONG, inner: STRUCT<x: DOUBLE, y: STRING>>),
        |       array(),
        |       CAST(NULL AS MAP<STRING, LONG>))
        |AS t(k, meta, legs, bal)""".stripMargin)
    TableLog.commitAppend(df, t)
    // batch path (catalog reader) — field access + null propagation
    spark.conf.set("spark.sql.catalog.graftnt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftnt.root", base)
    val got = spark.sql(
      "SELECT k, meta.a, meta.inner.x, meta.inner.y, get(legs, 0).q, size(legs), " +
        "try_element_at(bal, 'k1'), size(bal) FROM graftnt.nested")
      .collect().map(_.toString).sorted.toSeq
    val want = df.selectExpr("k", "meta.a", "meta.inner.x", "meta.inner.y",
      "get(legs, 0).q", "size(legs)", "try_element_at(bal, 'k1')", "size(bal)")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, s"nested read diverged:\n got $got\nwant $want")
    // streaming path shares the reader: full-row identity
    val rows = collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).load()
      .writeStream.option("checkpointLocation", s"$base/nested/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rows ++= b.drop("_change_type", "_commit_version").collect().map(_.toString)
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    assert(rows.sorted.toSeq ==
      TableLog.read(spark, t).collect().map(_.toString).sorted.toSeq)
  }

  test("struct member evolution null-backfills per file, like top-level columns") {
    Scratch.wipe(s"$base/sevo")
    val t = s"$base/sevo"
    TableLog.commitAppend(
      spark.sql("SELECT 0L AS k, named_struct('a', 1L) AS meta"), t)          // v0: meta<a>
    TableLog.commitAppend(
      spark.sql("SELECT 1L AS k, named_struct('a', 2L, 'b', 20L) AS meta"), t) // v1: meta<a,b>
    spark.conf.set("spark.sql.catalog.graftnt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftnt.root", base)
    val got = spark.sql("SELECT k, meta.a, meta.b FROM graftnt.sevo ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((0L, 1L, -1L), (1L, 2L, 20L)),
      s"pre-evolution rows must read meta.b as NULL, got $got")
  }

  test("column resolution is case-insensitive, matching the session default") {
    Scratch.wipe(s"$base/ci")
    val t = s"$base/ci"
    // the table's canonical name is mixed-case; the option uses another case
    TableLog.commitAppend(spark.range(1, 4).selectExpr("id AS Keyed"), t)
    val df = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).option("columns", "KEYED").load()
    // resolution keeps the TABLE's canonical field name (Spark semantics)
    assert(df.schema.fieldNames.head == "Keyed")
    val seen = collection.mutable.ArrayBuffer.empty[Long]
    val q = df.select("Keyed")
      .writeStream.option("checkpointLocation", s"$base/ci/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= b.as[Long].collect(); ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L),
      "a case-mismatched columns option must resolve")

    // reader side: a case-CHANGED evolved column — the old file spells the
    // field 'val', the merged schema (from the latest files) spells it
    // 'VAL' — must still DECODE from the old file, not null-backfill
    Scratch.wipe(s"$base/ci2")
    val t2 = s"$base/ci2"
    TableLog.commitAppend(spark.range(1, 3).selectExpr("id AS val"), t2)  // v0
    TableLog.commitOverwrite(spark.range(5, 7).selectExpr("id AS VAL"), t2) // v1
    val rows = collection.mutable.ArrayBuffer.empty[(String, Long, Any)]
    val q2 = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t2).load()
      .writeStream.option("checkpointLocation", s"$base/ci2/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rows ++= b.collect().map(r => (
          r.getAs[String]("_change_type"),
          r.getAs[Long]("_commit_version"),
          r.get(r.fieldIndex("VAL"))))
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    val v0Inserts = rows.filter(r => r._2 == 0L && r._1 == "insert").map(_._3)
    assert(v0Inserts.sortBy(_.asInstanceOf[Long].longValue) == Seq(1L, 2L),
      s"case-changed evolved file must decode, got $rows")
    assert(rows.forall(_._3 != null), s"no null backfill expected: $rows")
  }

  test("per-batch work scales with the batch's touched files, never the log size") {
    Scratch.wipe(s"$base/sized")
    val t = s"$base/sized"
    // 6 appends with a KNOWN file count each (1,1,3,1,2,1), then a DV
    // delete touching every file
    val fanout = Seq(1, 1, 3, 1, 2, 1)
    fanout.zipWithIndex.foreach { case (nf, i) =>
      TableLog.commitAppend(
        spark.range(i * 100L, i * 100L + 100L).selectExpr("id AS k")
          .repartition(nf), t)
    }
    TableLog.deleteWhere(spark, t, "k % 10 = 0") // v6: DV on all 9 files
    val parts = collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).option("versionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", s"$base/sized/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = b.select("_commit_version").limit(1).collect()
        if (v.nonEmpty) parts += ((v.head.getLong(0), b.rdd.getNumPartitions))
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    // the STATE-SIZE LAW: an append batch plans exactly ITS commit's files
    // as partitions — version 5 of a 6-commit log costs the same as
    // version 0 of a 1-commit log, so per-batch driver state and executor
    // work are bounded by the commit, never the log
    val byV = parts.toMap
    fanout.zipWithIndex.foreach { case (nf, i) =>
      assert(byV(i.toLong) == nf,
        s"v$i should plan $nf partitions (its own files), got ${byV(i.toLong)}")
    }
    // the DV-delete batch plans one partition per file the delete TOUCHES
    assert(byV(6L) == fanout.sum,
      s"the DV delete touches all ${fanout.sum} files, got ${byV(6L)}")
  }

  test("Trigger.AvailableNow drains the full history under admission and terminates") {
    Scratch.wipe(s"$base/avnow")
    val t = s"$base/avnow"
    TableLog.commitAppend(spark.range(1, 4).selectExpr("id AS k"), t)  // v0
    TableLog.commitAppend(spark.range(4, 7).selectExpr("id AS k"), t)  // v1
    TableLog.deleteWhere(spark, t, "k = 5")                            // v2
    val batches = collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).option("versionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", s"$base/avnow/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_commit_version").collect().map(_.getLong(0)).toSet
        if (vs.nonEmpty) batches += vs
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    // AvailableNow must terminate by itself once the snapshot drains
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    assert(batches.flatten.toSet == Set(0L, 1L, 2L), s"history not drained: $batches")
    assert(batches.forall(_.size == 1), s"admission cap ignored under AvailableNow: $batches")
  }

  test("log-to-log rollup: exactly-once across BOTH logs, even when a batch replays") {
    import graft.streaming.StreamIngest
    Scratch.wipe(s"$base/l2l")
    val src = s"$base/l2l/src"
    val dst = s"$base/l2l/dst"
    val ck = s"$base/l2l/ck"
    def ordersLike(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS o_orderstatus",
      "CAST(id AS DOUBLE) / 10 AS o_totalprice", "id AS k")
    TableLog.commitAppend(ordersLike(0, 20), src)   // v0
    TableLog.commitAppend(ordersLike(20, 30), src)  // v1
    TableLog.deleteWhere(spark, src, "k % 3 = 0")   // v2: DV deletes
    def run(): Unit = {
      val q = StreamIngest.logToLogRollup(spark, src, dst, ck)
      assert(q.awaitTermination(120000)); ()
    }
    run()
    def direct() = TableLog.read(spark, src)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_live"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def rolled() = TableLog.read(spark, dst)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rolled() == direct(), "maintained rollup diverged from the direct aggregate")
    // downstream history is versioned: one commit per consumed source commit
    val vAfter = TableLog.versions(dst).size
    assert(vAfter == 3, s"expected 3 rollup versions (one per source commit), got $vAfter")

    // restart with nothing new: no re-delivery, no new downstream versions
    run()
    assert(TableLog.versions(dst).size == vAfter, "idle restart grew the rollup log")

    // crash-replay simulation: drop the LAST batch's checkpoint commit
    // marker (offsets survive) — the engine re-executes that batch on
    // restart, and the downstream txn dedup must absorb it
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    // drop the marker AND its local-FS checksum sidecar (a stale .N.crc
    // makes the re-written marker's rename fail as "concurrently used")
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())
    run()
    assert(TableLog.versions(dst).size == vAfter,
      "replayed batch double-applied: txn dedup failed")
    assert(rolled() == direct(), "replay corrupted the rollup")

    // a NEW source commit after all that applies exactly once
    TableLog.commitAppend(ordersLike(30, 34), src)  // v3
    run()
    assert(rolled() == direct(), "post-replay delivery diverged")
    assert(TableLog.versions(dst).size == vAfter + 1)
  }

  test("graft-log streaming sink: format-to-format pipeline, exactly-once under forced replay") {
    Scratch.wipe(s"$base/sink")
    val src = s"$base/sink/src"
    val dst = s"$base/sink/dst"
    val ck = s"$base/sink/ck"
    TableLog.commitAppend(spark.range(0, 20).selectExpr("id AS k"), src)  // v0
    TableLog.commitAppend(spark.range(20, 30).selectExpr("id AS k"), src) // v1
    // change-feed SOURCE → graft-log SINK: a log-to-log pipeline with ZERO
    // foreachBatch code — the pair the change-feed source opened, closed
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.TableChangeSource")
        .option("table", src).option("versionsPerTrigger", "1")
        .option("columns", "k").load()
        .select("k")
        .writeStream.format("graft-log").option("table", dst)
        .option("statCols", "k")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); ()
    }
    run()
    def rows(t: String) = TableLog.read(spark, t).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows(dst) == rows(src), "sink must land exactly the source rows")
    // one commit per micro-batch (per source version under vpt=1)
    val vAfter = TableLog.versions(dst).size
    assert(vAfter == 2, s"expected 2 sink commits, got $vAfter")
    // the sink's commits are full log citizens: metadata count and stats
    assert(TableLog.metadataCount(dst).contains(30L))
    // idle restart: no new commits
    run()
    assert(TableLog.versions(dst).size == vAfter, "idle restart grew the sink log")
    // crash-replay: drop the LAST batch's checkpoint commit marker (offsets
    // survive) — the engine re-executes it and the txn dedup must absorb it
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())
    run()
    assert(TableLog.versions(dst).size == vAfter,
      "replayed batch double-applied: txn dedup failed")
    assert(rows(dst) == rows(src), "replay corrupted the sink table")
    // a NEW source commit flows through exactly once...
    TableLog.commitAppend(spark.range(30, 34).selectExpr("id AS k"), src) // v2
    run()
    assert(rows(dst) == rows(src))
    assert(TableLog.versions(dst).size == vAfter + 1)
    // ...and the sink-built table is itself a change-feed source: the pair
    // composes into arbitrarily long log pipelines
    val feed = TableLog.changeFeed(spark, dst, -1L, TableLog.versions(dst).last)
    assert(feed.where(col("_change_type") === "insert").count() == 34L)
  }

  test("startingVersion skips history; vacuumed checkpoint fails with a clear error") {
    Scratch.wipe(s"$base/startv")
    val t = s"$base/startv"
    TableLog.commitAppend(spark.range(1, 4).selectExpr("id AS k"), t)   // v0
    TableLog.commitAppend(spark.range(4, 6).selectExpr("id AS k"), t)   // v1
    val seen = collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).option("startingVersion", "0").load()
      .select("k")
      .writeStream.option("checkpointLocation", s"$base/startv/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= b.as[Long].collect(); ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    assert(seen.sorted.toSeq == Seq(4L, 5L), "startingVersion=0 must deliver only (0, head]")

    // vacuum past the checkpointed version: resuming must fail loud, with
    // the restart recipe in the message — never wedge or silently skip
    TableLog.commitOverwrite(spark.range(9, 10).selectExpr("id AS k"), t) // v2
    TableLog.vacuum(t, keepVersions = 1)
    val q2 = spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", t).load()
      .select("k")
      .writeStream.option("checkpointLocation", s"$base/startv/ckpt")
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .trigger(Trigger.ProcessingTime(0)).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    q2.stop()
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Seq.empty else x +: causes(x.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("retention exceeded"))),
      s"expected a retention-exceeded failure, got $e")
  }
}
