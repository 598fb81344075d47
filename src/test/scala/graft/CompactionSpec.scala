package graft

import graft.sources.Compaction
import org.apache.spark.sql.functions._

/** Pins the compaction contract: rewritten partitions collapse to the
  * target file count with byte-identical row content, and partitions that
  * are already compact are not touched at all.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private val base = "/tmp/graft_test_compact/t"

  test("compaction merges small files, preserves rows, skips compact partitions") {
    Scratch.wipe("/tmp/graft_test_compact")

    // partition p=0: 12 small files; p=1: already a single file
    (0L until 3000L).map(k => (k, 0, s"row$k")).toDF("k", "p", "v")
      .repartition(12)
      .write.partitionBy("p").mode("overwrite").parquet(base)
    (3000L until 4000L).map(k => (k, 1, s"row$k")).toDF("k", "p", "v")
      .coalesce(1)
      .write.partitionBy("p").mode("append").parquet(base)

    val before = Compaction.partitionStats(spark, base, "p")
      .map(s => s.dir.split('/').last -> s).toMap
    assert(before("p=0").nFiles == 12 && before("p=1").nFiles == 1, before)
    val p1FilesBefore = new java.io.File(base + "/p=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    val rowsBefore = spark.read.parquet(base)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(1))).toSet

    // huge target → every compacted partition collapses to 1 file
    val done = Compaction.compact(spark, base, "p", targetBytes = 1L << 30)

    assert(done.map(_._1.split('/').last) == Seq("p=0"), s"rewrote $done")
    assert(done.head._2 == 12 && done.head._3 == 1)
    val after = Compaction.partitionStats(spark, base, "p")
      .map(s => s.dir.split('/').last -> s).toMap
    assert(after("p=0").nFiles == 1)

    // untouched partition: same files, same mtimes
    val p1FilesAfter = new java.io.File(base + "/p=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(p1FilesAfter == p1FilesBefore)

    // content identical
    val rowsAfter = spark.read.parquet(base)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(1))).toSet
    assert(rowsAfter == rowsBefore && rowsAfter.size == 4000)

    // idempotent: nothing left to do
    assert(Compaction.compact(spark, base, "p", targetBytes = 1L << 30).isEmpty)
  }

  test("compaction heals a crashed swap from the trash dir before proceeding") {
    val t = "/tmp/graft_test_compact_heal/t"
    Scratch.wipe("/tmp/graft_test_compact_heal")
    (0L until 3000L).map(k => (k, 0, s"r$k")).toDF("k", "p", "v")
      .repartition(6)
      .write.partitionBy("p").mode("overwrite").parquet(t)

    // simulate a crash mid-swap: all data files moved to trash, partition empty
    val part = new java.io.File(s"$t/p=0")
    val trash = new java.io.File(s"$t/.compact_trash_p=0")
    trash.mkdirs()
    part.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      assert(f.renameTo(new java.io.File(trash, f.getName)))
    }
    assert(part.listFiles.count(_.getName.endsWith(".parquet")) == 0) // really broken

    val done = Compaction.compact(spark, t, "p", targetBytes = 1L << 30)
    // heal restored the originals, then the normal path compacted them
    assert(done.map(_._1.split('/').last) == Seq("p=0") && done.head._2 == 6)
    assert(!trash.exists)
    assert(spark.read.parquet(t).count() == 3000)
    assert(part.listFiles.count(_.getName.endsWith(".parquet")) == 1)
  }
}
