package graft

import graft.llm.Similarity
import org.apache.spark.sql.functions._

/** Pins the persisted-IVF-index contract: result identity with the
  * in-memory ivfTopK (same deterministic seed centroids) and dynamic
  * partition pruning of the probed cells.
  */
class IvfIndexSpec extends SparkSpec {

  private val path = "/tmp/graft_test_ivf_index"

  test("persisted IVF index reproduces ivfTopK exactly and prunes cells") {
    Scratch.wipe(path)
    val emb = Tables.load(spark, sfDir, "embeddings")
    Similarity.writeIvfIndex(emb, path)

    // the cells table is cell-partitioned on disk
    val cellDirs = new java.io.File(s"$path/cells").listFiles
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(cellDirs.length > 1, "index must be partitioned by cell")

    val queries = emb.orderBy("vec_id").limit(Similarity.NumQueries)
    val indexed = Similarity.ivfTopKIndexed(spark, path, queries)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
    val fromIndex = indexed.collect().map(key).toSet
    val inMemory = Similarity.ivfTopK(spark, sfDir).collect().map(key).toSet
    assert(fromIndex == inMemory && fromIndex.nonEmpty)

    // the member scan carries a static cell IN (...) partition filter:
    // inspect the PartitionFilters bracket itself (a plain isnotnull(cell)
    // there means NO pruning — every cell partition would be scanned)
    val plan = indexed.queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .filter(_.contains("graft_test_ivf_index/cells"))
      .flatMap { l =>
        val i = l.indexOf("PartitionFilters: [")
        if (i < 0) None
        else Some(l.substring(i + "PartitionFilters: [".length,
          math.max(l.indexOf("]", i), i)))
      }.toSeq
    assert(pf.nonEmpty, s"no PartitionFilters on the cells scan:\n$plan")
    assert(pf.exists(f => f.contains("cell") && (f.contains(" IN ") || f.contains("INSET"))),
      s"probed-cell scan should carry a static IN/INSET partition filter, got: $pf")
  }

  test("persisted IVF-PQ: full-probe serve == in-memory ADC; default probes prune code cells") {
    val p = "/tmp/graft_test_ivfpq_index"
    Scratch.wipe(p)
    val emb = Tables.load(spark, sfDir, "embeddings")
    Similarity.writeIvfPqIndex(emb, p)
    // three artifacts on disk; codes are cell-partitioned
    assert(new java.io.File(s"$p/centroids").exists && new java.io.File(s"$p/codebooks").exists)
    val cellDirs = new java.io.File(s"$p/codes").listFiles
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(cellDirs.length > 1, "codes must be partitioned by coarse cell")

    val queries = emb.where(col("vec_id") < 5)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // probing EVERY cell makes the candidate set the whole corpus — the
    // persisted ADC serve must then be bit-identical to the in-memory one
    val full = Similarity.annPqTopKIndexed(spark, p, queries, nProbe = Similarity.NumCells)
      .collect().map(key).toSet
    val global = Similarity.annPqTopK(spark, sfDir).collect().map(key).toSet
    assert(full == global && full.nonEmpty)

    // default NProbe: the codes scan carries a static IN/INSET partition filter
    val served = Similarity.annPqTopKIndexed(spark, p, queries)
    assert(served.collect().nonEmpty)
    val plan = served.queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .filter(_.contains("graft_test_ivfpq_index/codes"))
      .flatMap { l =>
        val i = l.indexOf("PartitionFilters: [")
        if (i < 0) None
        else Some(l.substring(i + "PartitionFilters: [".length,
          math.max(l.indexOf("]", i), i)))
      }.toSeq
    assert(pf.nonEmpty, s"no PartitionFilters on the codes scan:\n$plan")
    assert(pf.exists(f => f.contains("cell") && (f.contains(" IN ") || f.contains("INSET"))),
      s"probed-cell codes scan should carry a static IN/INSET partition filter, got: $pf")
  }

  test("IVF-PQ append is batch-size invariant: build(A)+append(B) == assign-all") {
    val inc  = "/tmp/graft_test_ivfpq_inc"
    val mono = "/tmp/graft_test_ivfpq_mono"
    Seq(inc, mono).foreach(Scratch.wipe)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = emb.where(col("vec_id") % 2 === 0)
    val b = emb.where(col("vec_id") % 2 =!= 0)
    Similarity.writeIvfPqIndex(a, inc)
    Similarity.appendIvfPqIndex(b, inc)
    // monolithic twin: SAME centroids + codebooks, one-batch assignment
    spark.read.parquet(s"$inc/centroids").write.parquet(s"$mono/centroids")
    spark.read.parquet(s"$inc/codebooks").write.parquet(s"$mono/codebooks")
    Similarity.appendIvfPqIndex(emb, mono)
    // every vector coded exactly once (PqM rows each)
    val perVec = spark.read.parquet(s"$inc/codes").groupBy("vec_id").count().collect()
    assert(perVec.length == emb.count() && perVec.forall(_.getLong(1) == Similarity.PqM))
    val queries = emb.where(col("vec_id") < 5)
    def res(p: String) = Similarity.annPqTopKIndexed(spark, p, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (ri, rm2) = (res(inc), res(mono))
    assert(ri == rm2 && ri.nonEmpty)
  }

  test("incremental append is batch-size invariant: build(A)+append(B) == assign-all") {
    val inc  = "/tmp/graft_test_ivf_inc"
    val mono = "/tmp/graft_test_ivf_mono"
    Seq(inc, mono).foreach(Scratch.wipe)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = emb.where(col("vec_id") % 2 === 0)
    val b = emb.where(col("vec_id") % 2 =!= 0)
    // incremental: centroids from A, then B arrives later
    Similarity.writeIvfIndex(a, inc)
    Similarity.appendIvfIndex(b, inc)
    // monolithic twin: SAME centroids, whole corpus assigned in one batch
    spark.read.parquet(s"$inc/centroids").write.parquet(s"$mono/centroids")
    Similarity.appendIvfIndex(emb, mono)
    // every vector present exactly once
    val incIds = spark.read.parquet(s"$inc/cells").select("vec_id")
      .collect().map(_.getLong(0)).sorted
    assert(incIds.sameElements(emb.select("vec_id").collect().map(_.getLong(0)).sorted))
    // searches are identical — append order never changes served results
    val queries = emb.orderBy("vec_id").limit(Similarity.NumQueries)
    def res(p: String) = Similarity.ivfTopKIndexed(spark, p, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val (ri, rm2) = (res(inc), res(mono))
    assert(ri == rm2 && ri.nonEmpty)
  }

  test("IVF erasure: feed-propagated tombstones == same-centroid rebuild; churn nets; re-insert resurrects") {
    import graft.sources.TableLog
    val root = java.nio.file.Files.createTempDirectory("ivf_erase").toString
    val (tdir, idx, cur) = (s"$root/emb", s"$root/idx", s"$root/cursor")
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    TableLog.commitAppend(emb, tdir) // v0: the governed embeddings table
    Similarity.writeIvfIndex(
      TableLog.read(spark, tdir).select("vec_id", "embedding"), idx)
    assert(Similarity.propagateIvfErasures(spark, tdir, idx, cur).contains((-1L, 0L)))
    val queries = emb.orderBy("vec_id").limit(Similarity.NumQueries).cache()
    def res(p: String) = Similarity.ivfTopKIndexed(spark, p, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val before = res(idx)
    val qIds = queries.collect().map(_.getLong(0)).toSet
    // victim: a served neighbor that is NOT itself a query vector
    val victim = before.map(_._2).filterNot(qIds).min
    val victimRow = emb.where(col("vec_id") === victim).cache()
    assert(victimRow.count() == 1)
    TableLog.deleteWhere(spark, tdir, s"vec_id = $victim") // v1
    assert(Similarity.propagateIvfErasures(spark, tdir, idx, cur).contains((0L, 1L)))
    val served = res(idx)
    assert(!served.exists(_._2 == victim), "an erased vector must never be served")
    // law: tombstoned serve == an index REBUILT on the live snapshot with
    // the SAME centroids (FAISS remove semantics: posting lists shrink,
    // the coarse quantizer is not retrained)
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$root/rebuild/centroids")
    Similarity.appendIvfIndex(
      TableLog.read(spark, tdir).select("vec_id", "embedding"), s"$root/rebuild")
    assert(served == res(s"$root/rebuild") && served.nonEmpty)
    // compaction churn (delete+insert of every live row) tombstones nothing
    TableLog.optimize(spark, tdir) // v2
    assert(Similarity.propagateIvfErasures(spark, tdir, idx, cur).contains((1L, 2L)))
    assert(res(idx) == served, "optimize churn must not erase live vectors")
    // re-inserting the erased vector resurrects it (versioned tombstone)
    TableLog.commitAppend(victimRow, tdir) // v3
    victimRow.unpersist(blocking = false)
    assert(Similarity.propagateIvfErasures(spark, tdir, idx, cur).contains((2L, 3L)))
    assert(res(idx) == before, "a re-inserted vector must serve again")
    // redelivery (lost cursor) is a no-op in effect
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(cur))
    Similarity.propagateIvfErasures(spark, tdir, idx, cur)
    assert(res(idx) == before)
    queries.unpersist(blocking = false)
  }

  test("IVF-PQ erasure: erased vector never served; equals same-codebook rebuild") {
    import graft.sources.TableLog
    val root = java.nio.file.Files.createTempDirectory("ivfpq_erase").toString
    val (tdir, idx, cur) = (s"$root/emb", s"$root/idx", s"$root/cursor")
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    TableLog.commitAppend(emb, tdir) // v0
    Similarity.writeIvfPqIndex(
      TableLog.read(spark, tdir).select("vec_id", "embedding"), idx)
    assert(Similarity.propagateIvfErasures(spark, tdir, idx, cur).contains((-1L, 0L)))
    val queries = emb.where(col("vec_id") < 5).cache()
    def res(p: String) = Similarity.annPqTopKIndexed(spark, p, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val before = res(idx)
    // annPqTopKIndexed rows are (q_id, rank, vec_id, dist) — victim from
    // the NEIGHBOR slot, outside the query id range
    val victim = before.map(_._3).filter(_ >= 5).min
    TableLog.deleteWhere(spark, tdir, s"vec_id = $victim") // v1
    assert(Similarity.propagateIvfErasures(spark, tdir, idx, cur).contains((0L, 1L)))
    val served = res(idx)
    assert(!served.exists(_._3 == victim), "an erased vector must never be served")
    // same-quantizer rebuild on the live snapshot serves identically
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$root/rebuild/centroids")
    spark.read.parquet(s"$idx/codebooks").write.parquet(s"$root/rebuild/codebooks")
    Similarity.appendIvfPqIndex(
      TableLog.read(spark, tdir).select("vec_id", "embedding"), s"$root/rebuild")
    assert(served == res(s"$root/rebuild") && served.nonEmpty)
    queries.unpersist(blocking = false)
  }
}
