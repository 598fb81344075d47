package graft.sources

import graft.{SparkSpec, Scratch}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

/** Join-key RUNTIME file skipping (the sidecar answer to dynamic partition
  * pruning): when a catalog scan joins a selective build side on a
  * stat/bloom-indexed column, the build side's values must reach
  * [[GraftLogScan.filter]] before partition planning and shrink the file
  * set — soundly (row identity with the unfiltered join) and observably
  * ([[GraftLogScan.runtimeKept]]). Lives in `graft.sources` to reach the
  * package-private scan.
  */
class RuntimeFilterSpec extends SparkSpec {

  /** collect scans through AQE wrappers (adaptive root + stage nodes) */
  private def logScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[GraftLogScan] =
    p.collect {
      case b: BatchScanExec => b.scan match {
        case s: GraftLogScan => Seq(s)
        case _ => Seq.empty
      }
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        logScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        logScans(q.plan)
    }.flatten

  test("a selective dim join prunes fact files at runtime via the stats sidecar") {
    val root = Scratch.dir("graft_rtf", "x")
    Scratch.wipe(root)
    val t = s"$root/fact"
    // the fact must be too big to broadcast (a broadcast build side makes
    // its own runtime filter pointless and AQE trivializes it to `true`);
    // the md5 payload defeats parquet's delta-encoding of sequential ids
    TableLog.commitAppend(
      spark.range(0, 2000000)
        .selectExpr("id AS k", "md5(CAST(id AS STRING)) AS payload")
        .repartitionByRange(8, col("k")),
      t, statCols = Seq("k"))
    spark.conf.set("spark.sql.catalog.graftrtf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrtf.root", root)
    // DPP needs a REAL source dim with a residual filter (a LocalRelation
    // folds to literals) and the toy-scale stats veto disabled. The tag
    // filter puts every surviving dk in the FIRST of eight range files —
    // and, unlike a dk range predicate, cannot propagate to f.k statically
    spark.range(0, 8000).selectExpr("id AS dk", "id % 997 AS tag")
      .write.mode("overwrite").parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("rtf_dim")
    val prev = spark.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val j = spark.sql(
        "SELECT f.k FROM graftrtf.fact f JOIN rtf_dim d ON f.k = d.dk WHERE d.tag = 0")
      val expect = (0L until 8000L).filter(_ % 997 == 0)
      assert(j.collect().map(_.getLong(0)).sorted.toSeq == expect)
      val scans = logScans(j.queryExecution.executedPlan)
      assert(scans.nonEmpty, "expected the catalog scan in the executed plan")
      val kept = scans.head.runtimeKept
      assert(kept.isDefined, "runtime join-key filter never reached the scan;" +
        s"\nexecuted:\n${j.queryExecution.executedPlan}")
      // all nine build-side keys live in the first range-clustered file
      assert(kept.get.size == 1, s"expected 1 of 8 files kept, got ${kept.get.size}")
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
    }
  }

  test("hash-clustered facts prune via the BLOOM sidecar (stats ranges are useless there)") {
    val root = Scratch.dir("graft_rtf3", "x")
    Scratch.wipe(root)
    val t = s"$root/fact"
    // hash layout: every file's [min, max] spans the whole domain, so only
    // the per-file bloom can skip; no stats sidecar is built at all.
    // ~1k keys/file — the 8192-bit bloom's design point (a saturated
    // bloom keeps everything, soundly but uselessly)
    TableLog.commitAppend(
      spark.range(0, 8000)
        .selectExpr("id AS k", "md5(CAST(id AS STRING)) AS payload")
        .repartition(8, col("k")), t)
    TableLog.buildBloomIndex(spark, t, "k")
    spark.conf.set("spark.sql.catalog.graftrtf3", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrtf3.root", root)
    spark.range(0, 4000).selectExpr("id AS dk", "id % 1999 AS tag")
      .write.mode("overwrite").parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("rtf_dim3")
    val prev = spark.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    // pin the geometry: the dim must build (broadcast), the fact probe —
    // at this scale both would otherwise qualify for broadcast
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100k")
    try {
      // tag filter survives dk ∈ {0, 1999, 3998}
      val j = spark.sql(
        "SELECT f.k FROM graftrtf3.fact f JOIN rtf_dim3 d ON f.k = d.dk WHERE d.tag = 0")
      assert(j.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1999L, 3998L))
      val kept = logScans(j.queryExecution.executedPlan).head.runtimeKept
      assert(kept.isDefined, "bloom runtime filter never reached the scan")
      assert(kept.get.size < 8, s"bloom must skip some of 8 hash files, kept ${kept.get.size}")
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("bucketed facts prune at runtime via bucket-id arithmetic") {
    val root = Scratch.dir("graft_rtf4", "x")
    Scratch.wipe(root)
    spark.conf.set("spark.sql.catalog.graftrtf4", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrtf4.root", root)
    // a bucketed INSERT records k stats too, but a hash layout's per-file
    // [min, max] spans the whole domain — stats keep all 8 files; only the
    // bucket-id arithmetic can skip, so kept < 8 proves the bucket path
    spark.sql("CREATE TABLE graftrtf4.fact (k BIGINT, payload STRING) " +
      "TBLPROPERTIES ('graft.bucketBy'='k', 'graft.bucketBy.n'='8')")
    spark.range(0, 8000)
      .selectExpr("id AS k", "md5(CAST(id AS STRING)) AS payload")
      .createOrReplaceTempView("rtf4_src")
    spark.sql("INSERT INTO graftrtf4.fact SELECT k, payload FROM rtf4_src")
    spark.range(0, 4000).selectExpr("id AS dk", "id % 1999 AS tag")
      .write.mode("overwrite").parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("rtf_dim4")
    val prev = spark.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100k")
    try {
      val j = spark.sql(
        "SELECT f.k FROM graftrtf4.fact f JOIN rtf_dim4 d ON f.k = d.dk WHERE d.tag = 0")
      assert(j.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1999L, 3998L))
      val kept = logScans(j.queryExecution.executedPlan).head.runtimeKept
      assert(kept.isDefined, "bucket runtime filter never reached the scan")
      // three build keys live in at most three buckets
      assert(kept.get.size <= 3, s"bucket-id skip must keep <=3 of 8 files, kept ${kept.get.size}")
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("joins on an un-indexed column leave the scan untouched") {
    val root = Scratch.dir("graft_rtf2", "x")
    Scratch.wipe(root)
    val t = s"$root/fact"
    TableLog.commitAppend(
      spark.range(0, 4000).selectExpr("id AS k", "id AS payload")
        .repartitionByRange(4, col("k")),
      t, statCols = Seq("k"))
    spark.conf.set("spark.sql.catalog.graftrtf2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrtf2.root", root)
    spark.range(0, 10).selectExpr("id AS dk").write.mode("overwrite")
      .parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("rtf_dim2")
    // payload is not stat-indexed: filterAttributes excludes it, so no
    // runtime filter plans and all files scan (sound default)
    val j = spark.sql(
      "SELECT count(*) AS n FROM graftrtf2.fact f JOIN rtf_dim2 d ON f.payload = d.dk")
    assert(j.collect().head.getLong(0) == 10L)
    val scans = logScans(j.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.head.runtimeKept.isEmpty)
  }
}
