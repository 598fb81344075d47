package graft.sources

import graft.{SparkSpec, Scratch}

/** SECOND-level skipping: inside files the sidecars kept, the per-file
  * reader must skip whole ROW GROUPS whose footer statistics cannot
  * intersect the pushed range — and the position cursor must jump by the
  * skipped groups' row counts so deletion-vector subtraction stays exact.
  * Lives in `graft.sources` for the package-private reader counter.
  */
class RowGroupSkipSpec extends SparkSpec {

  test("pushed ranges skip row groups; DV positions stay aligned across the gaps") {
    val root = Scratch.dir("graft_rgs", "x")
    Scratch.wipe(root)
    val t = s"$root/t"
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    // ~64 KB blocks → one data file with MANY row groups (the md5 payload
    // defeats delta-encoding, so blocks fill)
    hconf.setInt("parquet.block.size", 64 * 1024)
    try {
      TableLog.commitAppend(
        spark.range(0, 200000)
          .selectExpr("id AS k", "md5(CAST(id AS STRING)) AS payload")
          .coalesce(1), t)
    } finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
    spark.conf.set("spark.sql.catalog.graftrgs", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrgs.root", root)

    ChangeFileReader.rowGroupsSkipped.reset()
    val tail = spark.sql("SELECT k FROM graftrgs.t WHERE k >= 190000").collect()
    assert(tail.length == 10000 && tail.map(_.getLong(0)).min == 190000L)
    val skipped = ChangeFileReader.rowGroupsSkipped.sum()
    assert(skipped > 10,
      s"a tail-band read of a ~130-group file must skip most groups, skipped=$skipped")

    // no pushed range → nothing skipped, every row seen (count(k) is NOT
    // the pushed-metadata count(*), so a real scan runs)
    ChangeFileReader.rowGroupsSkipped.reset()
    assert(spark.sql("SELECT count(k) AS n FROM graftrgs.t")
      .collect().head.getLong(0) == 200000L)
    assert(ChangeFileReader.rowGroupsSkipped.sum() == 0L)

    // DV alignment across skipped gaps: delete every even k in the tail
    // band — positions are ABSOLUTE row indexes, so if a skipped group's
    // row count were not added to the cursor, the subtraction would land
    // on the wrong rows and parity would break
    TableLog.deleteWhere(spark, t, "k % 2 = 0 AND k >= 190000")
    // default path since round 13: DV-bearing snapshots read COLUMNAR —
    // the survivor-compacting vectorized reader trades row-group skipping
    // for batch decode (sequential, position-exact). Answers must be exact;
    // the skip counter stays untouched by design.
    ChangeFileReader.rowGroupsSkipped.reset()
    val after = spark.sql("SELECT k FROM graftrgs.t WHERE k >= 190000").collect()
    assert(after.length == 5000, s"expected the 5000 odd survivors, got ${after.length}")
    assert(after.forall(_.getLong(0) % 2 == 1), "DV positions misaligned (columnar path)")
    assert(ChangeFileReader.rowGroupsSkipped.sum() == 0L,
      "the DV-columnar reader decodes sequentially — no row-group skipping")
    // and the un-banded read is DV-exact too
    assert(spark.sql("SELECT count(k) AS n FROM graftrgs.t")
      .collect().head.getLong(0) == 195000L)
    // opt-OUT restores the position-exact Group ROW reader, which skips row
    // groups across the band and must add skipped groups' row counts to the
    // position cursor so DV subtraction stays aligned across the gaps
    spark.conf.set("spark.graft.columnar.dv.enabled", "false")
    try {
      ChangeFileReader.rowGroupsSkipped.reset()
      val afterRow = spark.sql("SELECT k FROM graftrgs.t WHERE k >= 190000").collect()
      assert(afterRow.length == 5000, s"row path: expected 5000, got ${afterRow.length}")
      assert(afterRow.forall(_.getLong(0) % 2 == 1),
        "DV positions misaligned after group skipping (row path)")
      assert(ChangeFileReader.rowGroupsSkipped.sum() > 10,
        s"the row reader must skip most groups, skipped=${ChangeFileReader.rowGroupsSkipped.sum()}")
    } finally spark.conf.unset("spark.graft.columnar.dv.enabled")
  }

  test("nested-field predicates never feed row-group envelopes (no row loss)") {
    val root = Scratch.dir("graft_rgn", "x")
    Scratch.wipe(root)
    val t = s"$root/t"
    // DSv2 pushes struct-field comparisons as dotted names ("s.x") —
    // those must NOT become row-group ranges: the per-file reader resolves
    // range columns against TOP-LEVEL footer fields, and an unmatched name
    // is the "absent column" sentinel that skips every block (row loss).
    TableLog.commitAppend(
      spark.range(0, 1000)
        .selectExpr("id AS k", "named_struct('x', id, 'y', CAST(id AS STRING)) AS s")
        .coalesce(1), t)
    spark.conf.set("spark.sql.catalog.graftrgn", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrgn.root", root)

    val hit = spark.sql("SELECT k FROM graftrgn.t WHERE s.x = 7").collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 7L,
      s"nested predicate dropped rows: got ${hit.length}")
    // range shape too
    assert(spark.sql("SELECT count(k) AS n FROM graftrgn.t WHERE s.x >= 990")
      .collect().head.getLong(0) == 10L)
    // and a top-level predicate still skips as before (sanity: the guard
    // must not disable legitimate envelopes)
    ChangeFileReader.rowGroupsSkipped.reset()
    assert(spark.sql("SELECT count(k) AS n FROM graftrgn.t WHERE k = 7")
      .collect().head.getLong(0) == 1L)
  }

  test("STRING predicates skip row groups on binary footer stats (both readers)") {
    val root = Scratch.dir("graft_rgstr", "x")
    Scratch.wipe(root)
    val t = s"$root/t"
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try {
      // sorted string key + an md5 payload (defeats compression) → one
      // file, many row groups, each a narrow band of the string key
      TableLog.commitAppend(
        spark.range(0, 200000)
          .selectExpr("format_string('k%06d', id) AS sk",
            "md5(CAST(id AS STRING)) AS payload")
          .coalesce(1), t)
    } finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
    spark.conf.set("spark.sql.catalog.graftrgstr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrgstr.root", root)

    // vectorized path (flat schema, no DVs → columnar by default): the
    // string band becomes a parquet binary FilterPredicate
    ChangeFileReader.rowGroupsSkipped.reset()
    val tail = spark.sql(
      "SELECT sk FROM graftrgstr.t WHERE sk >= 'k190000'").collect()
    assert(tail.length == 10000 && tail.map(_.getString(0)).min == "k190000")
    val skipped = ChangeFileReader.rowGroupsSkipped.sum()
    assert(skipped > 10,
      s"a string tail-band must skip most groups (vectorized), skipped=$skipped")

    // row reader path (columnar off): blockMayMatch compares binary stats
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try {
      ChangeFileReader.rowGroupsSkipped.reset()
      val eq = spark.sql(
        "SELECT count(payload) AS n FROM graftrgstr.t WHERE sk = 'k000007'")
        .collect().head.getLong(0)
      assert(eq == 1L)
      assert(ChangeFileReader.rowGroupsSkipped.sum() > 10,
        s"string equality must skip groups (row reader), skipped=${ChangeFileReader.rowGroupsSkipped.sum()}")
    } finally spark.conf.unset("spark.graft.columnar.enabled")
  }
}
