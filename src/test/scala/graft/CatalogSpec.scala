package graft

import graft.sources.TableLog
import org.apache.spark.sql.functions._

/** Pins the DSv2 `GraftCatalog` contract: SQL reads over table logs equal
  * the API reads (latest, VERSION AS OF, TIMESTAMP AS OF, DV merge-on-read),
  * `count(*)` takes the zero-data-file metadata path, scans report
  * metadata-exact statistics, and SQL DML/DDL (CREATE/CTAS/INSERT/
  * OVERWRITE/DELETE/TRUNCATE/ALTER ADD COLUMN/DROP) routes through the
  * log's commit protocol — DV deletes never rewrite data files, priors
  * time-travel, CHECK constraints abort unpublished.
  */
class CatalogSpec extends SparkSpec {

  private val root = "/tmp/graft_test_catalog"

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftcat.root", root)
  }

  test("SQL snapshot, VERSION AS OF and TIMESTAMP AS OF equal the API reads") {
    Scratch.wipe(root)
    val t = s"$root/orders_c"
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    TableLog.commitAppend(orders, t)                                   // v0
    TableLog.deleteWhere(spark, t, "o_orderkey % 10 = 3")              // v1 (DV)
    TableLog.commitAppend(orders.where("o_orderkey % 10 = 3"), t)      // v2
    register()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // latest snapshot through SQL == API read (DV'd files subtracted)
    assert(rows(spark.sql("SELECT * FROM graftcat.orders_c")) ==
      rows(TableLog.read(spark, t)))
    // time travel by version
    for (v <- 0L to 2L)
      assert(rows(spark.sql(s"SELECT * FROM graftcat.orders_c VERSION AS OF $v")) ==
        rows(TableLog.read(spark, t, asOf = Some(v))), s"version $v diverged")
    // v1 really differs from v0 (the DV delete is visible through SQL)
    assert(spark.sql("SELECT * FROM graftcat.orders_c VERSION AS OF 1").count() <
      spark.sql("SELECT * FROM graftcat.orders_c VERSION AS OF 0").count())
    // timestamp travel: 'now' resolves to the head version
    assert(rows(spark.sql(
      "SELECT * FROM graftcat.orders_c TIMESTAMP AS OF current_timestamp()")) ==
      rows(TableLog.read(spark, t)))
    // column pruning + predicate through SQL
    val sk = spark.sql(
      "SELECT o_orderkey FROM graftcat.orders_c WHERE o_orderstatus = 'F'")
    assert(rows(sk) == rows(TableLog.read(spark, t)
      .where("o_orderstatus = 'F'").select("o_orderkey")))
    // tables list
    assert(spark.sql("SHOW TABLES IN graftcat").collect()
      .map(_.getString(1)).contains("orders_c"))
  }

  test("count(*) is answered from metadata: zero data files read, DV-exact") {
    Scratch.wipe(root)
    val t = s"$root/cnt"
    TableLog.commitAppend(spark.range(0, 1000).selectExpr("id AS k"), t) // v0
    TableLog.deleteWhere(spark, t, "k % 7 = 0")                          // v1
    register()
    val df = spark.sql("SELECT count(*) AS n FROM graftcat.cnt")
    val expected = TableLog.read(spark, t).count()
    assert(df.collect().head.getLong(0) == expected && expected < 1000L)
    // the plan carries the metadata-count scan, not a file scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataScan"),
      s"count(*) should push to the metadata scan:\n$plan")
    assert(!plan.contains("GraftLogScan"), s"no data-file scan expected:\n$plan")
    // grouped/filtered counts correctly stay real scans
    val g = spark.sql("SELECT count(*) FROM graftcat.cnt WHERE k > 10")
    assert(g.queryExecution.executedPlan.toString.contains("GraftLogScan"))
    assert(g.collect().head.getLong(0) ==
      TableLog.read(spark, t).where("k > 10").count())
  }

  test("ungrouped min/max push to metadata under full stats coverage and no DVs") {
    Scratch.wipe(root)
    val t = s"$root/mmx"
    TableLog.commitAppend(
      spark.range(5, 9005).selectExpr("id AS k", "id % 13 AS vv")
        .repartitionByRange(4, col("k")),
      t, statCols = Seq("k"))
    register()
    val q = "SELECT min(k) AS mn, max(k) AS mx, count(*) AS n FROM graftcat.mmx"
    val df = spark.sql(q)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("GraftMetadataScan") && !plan.contains("GraftLogScan"),
      s"min/max/count must answer from metadata:\n$plan")
    assert(df.collect().head.toSeq == Seq(5L, 9004L, 9000L))
    // an un-indexed column, a filter, or a group-by each block the push
    for (blocked <- Seq(
      "SELECT min(vv) AS m FROM graftcat.mmx",
      "SELECT min(k) AS m FROM graftcat.mmx WHERE vv = 3",
      "SELECT vv, min(k) AS m FROM graftcat.mmx GROUP BY vv")) {
      assert(spark.sql(blocked).queryExecution.sparkPlan.toString
        .contains("GraftLogScan"), s"must stay a real scan: $blocked")
    }
    assert(spark.sql("SELECT min(vv) AS m FROM graftcat.mmx")
      .collect().head.getLong(0) == 0L)
    // a DV could have deleted the extreme row — the push must turn off,
    // and the scanned answer reflect the delete
    TableLog.deleteWhere(spark, t, "k < 100")
    val after = spark.sql(q)
    assert(after.queryExecution.sparkPlan.toString.contains("GraftLogScan"),
      "DVs must block the metadata extremes")
    assert(after.collect().head.toSeq == Seq(100L, 9004L, 8905L))
  }

  test("clusterBy property: INSERT writes clustered files and string predicates skip them") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.clus (k BIGINT, sk STRING) " +
      "TBLPROPERTIES ('graft.clusterBy'='sk,k', 'graft.clusterBy.files'='8')")
    // the property persisted to the sidecar and reads back through SQL
    val props = spark.sql("SHOW TBLPROPERTIES graftcat.clus").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.clusterBy").contains("sk,k"))
    spark.range(0, 4000)
      .selectExpr("id AS k", "format_string('g%02d', id % 40) AS sk")
      .createOrReplaceTempView("clus_src")
    spark.sql("INSERT INTO graftcat.clus SELECT k, sk FROM clus_src")
    // string equality skips files: the scan description records files=kept/total
    val q = spark.sql("SELECT count(k) AS n FROM graftcat.clus WHERE sk = 'g07'")
    assert(q.collect().head.getLong(0) == 100L)
    val scanDesc = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftLogScan")).getOrElse("")
    val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(scanDesc)
    assert(m.isDefined, s"no files=k/n in scan description: $scanDesc")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"clustered insert must let the string predicate skip files: $scanDesc")
    // long dimension skips too (second cluster column carries stats as well)
    val q2 = spark.sql("SELECT count(sk) AS n FROM graftcat.clus WHERE k < 10")
    assert(q2.collect().head.getLong(0) == 10L)
    // LIKE 'prefix%' prunes too: StringStartsWith becomes the [p, succ(p))
    // band against the string stats
    val ql = spark.sql("SELECT count(k) AS n FROM graftcat.clus WHERE sk LIKE 'g3%'")
    assert(ql.collect().head.getLong(0) == 1000L) // g30..g39
    val likeDesc = ql.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftLogScan")).getOrElse("")
    val ml = """files=(\d+)/(\d+)""".r.findFirstMatchIn(likeDesc)
    assert(ml.isDefined && ml.get.group(1).toInt < ml.get.group(2).toInt,
      s"LIKE prefix must skip files: $likeDesc")
    // ALTER TABLE UNSET turns clustering off for later inserts
    spark.sql("ALTER TABLE graftcat.clus UNSET TBLPROPERTIES ('graft.clusterBy')")
    assert(!spark.sql("SHOW TBLPROPERTIES graftcat.clus").collect()
      .exists(_.getString(0) == "graft.clusterBy"))
    // ALTER TABLE SET re-enables; non-graft keys are rejected loudly
    spark.sql("ALTER TABLE graftcat.clus SET TBLPROPERTIES ('graft.clusterBy'='sk')")
    assert(TableLog.tableProps(s"$root/clus").get("graft.clusterBy").contains("sk"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graftcat.clus SET TBLPROPERTIES ('zzz'='1')")
    }
  }

  test("string min/max answer from metadata; DVs and partial coverage block the push") {
    Scratch.wipe(root)
    val t = s"$root/smmx"
    TableLog.commitAppend(
      spark.range(0, 900)
        .selectExpr("format_string('v%03d', id) AS sk", "id AS k")
        .repartitionByRange(3, col("sk")),
      t, statCols = Seq("sk"))
    register()
    val q = "SELECT min(sk) AS lo, max(sk) AS hi, count(*) AS n FROM graftcat.smmx"
    val df = spark.sql(q)
    assert(df.queryExecution.sparkPlan.toString.contains("GraftMetadataScan"),
      "string extremes under full coverage must answer from metadata")
    assert(df.collect().head.toSeq == Seq("v000", "v899", 900L))
    // an append WITHOUT stats breaks coverage → the push turns off, answer stays right
    TableLog.commitAppend(
      spark.range(900, 950).selectExpr("format_string('v%03d', id) AS sk", "id AS k"), t)
    val df2 = spark.sql(q)
    assert(df2.queryExecution.sparkPlan.toString.contains("GraftLogScan"),
      "partial coverage must block the metadata push")
    assert(df2.collect().head.toSeq == Seq("v000", "v949", 950L))
    // a DV could have deleted the extreme → blocked as well
    val t2 = s"$root/smmx2"
    TableLog.commitAppend(
      spark.range(0, 100).selectExpr("format_string('v%03d', id) AS sk"), t2,
      statCols = Seq("sk"))
    TableLog.deleteWhere(spark, t2, "sk = 'v099'")
    val df3 = spark.sql("SELECT max(sk) AS hi FROM graftcat.smmx2")
    assert(df3.queryExecution.sparkPlan.toString.contains("GraftLogScan"))
    assert(df3.collect().head.getString(0) == "v098")
  }

  test("scan statistics are metadata-exact, so the small log table broadcasts") {
    Scratch.wipe(root)
    val t = s"$root/dim"
    TableLog.commitAppend(
      spark.range(0, 50).selectExpr("id AS k", "concat('n', id) AS nm"), t)
    register()
    val fact = spark.range(0, 100000).selectExpr("id % 50 AS k", "id AS x")
    fact.createOrReplaceTempView("fact_v")
    val j = spark.sql(
      "SELECT f.k, count(*) AS c FROM fact_v f JOIN graftcat.dim d ON f.k = d.k GROUP BY f.k")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a 50-row log table with reported stats must broadcast:\n$plan")
    // and the decision FLIPS on the stats: a log table reported above the
    // broadcast threshold must not be broadcast (no blind hint — the same
    // cost decision Spark would get from a Delta table's stats)
    val big = s"$root/bigdim"
    TableLog.commitAppend(
      spark.range(0, 2000000).selectExpr("id AS k", "concat('n', id) AS nm")
        .repartition(4), big)
    val sz = spark.sql("SELECT count(*) FROM graftcat.bigdim").collect().head.getLong(0)
    assert(sz == 2000000L)
    // a fact side itself above the broadcast threshold, so the only way a
    // broadcast appears is the planner (wrongly) trusting a default guess
    // for the log side
    spark.range(0, 5000000).selectExpr("id % 50 AS k", "id AS x")
      .createOrReplaceTempView("bigfact_v")
    val j2 = spark.sql(
      "SELECT f.k, count(*) AS c FROM bigfact_v f JOIN graftcat.bigdim d ON f.k = d.k GROUP BY f.k")
    j2.collect()
    val plan2 = j2.queryExecution.executedPlan.toString
    assert(!plan2.contains("BroadcastHashJoin"),
      s"a beyond-threshold log table must NOT broadcast:\n$plan2")
    // identical rows through either join strategy
    assert(j.collect().map(_.toString).sorted.toSeq ==
      spark.sql("SELECT f.k, count(*) AS c FROM fact_v f JOIN graftcat.bigdim d ON f.k = d.k WHERE d.k < 50 GROUP BY f.k")
        .collect().map(_.toString).sorted.toSeq)
  }

  test("pushed filters skip files from the stats and bloom sidecars") {
    Scratch.wipe(root)
    // range-clustered on k with a stats sidecar AND a bloom index
    val t = s"$root/skip"
    TableLog.commitAppend(
      spark.range(0, 8000).selectExpr("id AS k", "id % 13 AS vv")
        .repartitionByRange(8, col("k")),
      t, statCols = Seq("k"))
    TableLog.buildBloomIndex(spark, t, "k")
    register()
    def parts(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    val eq = spark.sql("SELECT * FROM graftcat.skip WHERE k = 4321")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(4321L))
    assert(parts(eq) <= 2, s"point lookup should skip to ~1 of 8 files, got ${parts(eq)}")
    val ge = spark.sql("SELECT count(*) AS c FROM graftcat.skip WHERE k >= 7000")
    assert(ge.collect().head.getLong(0) == 1000L)
    assert(parts(spark.sql("SELECT * FROM graftcat.skip WHERE k >= 7000")) <= 2)
    // un-indexed column: no skipping, full scan, exact answer
    val u = spark.sql("SELECT count(*) AS c FROM graftcat.skip WHERE vv = 5")
    assert(u.collect().head.getLong(0) ==
      TableLog.read(spark, t).where("vv = 5").count())
    assert(parts(spark.sql("SELECT * FROM graftcat.skip WHERE vv = 5")) == 8)

    // hash-clustered layout: min/max is useless, the BLOOM does the skipping
    val h = s"$root/skiph"
    TableLog.commitAppend(
      spark.range(0, 8000).selectExpr("id AS k").repartition(8, col("k")), h)
    TableLog.buildBloomIndex(spark, h, "k")
    val hq = spark.sql("SELECT * FROM graftcat.skiph WHERE k = 4321")
    assert(hq.collect().map(_.getLong(0)).toSeq == Seq(4321L))
    assert(parts(hq) < 8,
      s"bloom should skip most of a hash layout, got ${parts(hq)}/8")
    // IN list unions the per-value bloom keeps
    val in = spark.sql("SELECT * FROM graftcat.skiph WHERE k IN (11, 4321)")
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 4321L))
    assert(parts(in) < 8)
  }

  test("vectorized batch reads: typed round-trip on the columnar path; DVs and nested fall back") {
    Scratch.wipe(root)
    val t = s"$root/typed_c"
    import spark.implicits._
    val src = spark.sql(
      """SELECT id AS k, CAST(id AS INT) AS i, CAST(id AS DOUBLE) / 7 AS d,
        |       md5(CAST(id AS STRING)) AS s,
        |       CAST(id AS DECIMAL(12,2)) / 4 AS m,
        |       timestampadd(MINUTE, CAST(id AS INT), TIMESTAMP '2024-03-01 00:00:00') AS ts,
        |       date_add(DATE '2024-03-01', CAST(id % 365 AS INT)) AS dt,
        |       id % 2 = 0 AS b
        |FROM range(0, 5000)""".stripMargin)
    TableLog.commitAppend(src.coalesce(1), t)
    register()
    def plan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val q = spark.sql("SELECT * FROM graftcat.typed_c")
    // flat primitives + no DVs → the scan feeds ColumnarBatches
    assert(plan(q).contains("ColumnarToRow"),
      s"flat DV-free catalog scan must be columnar:\n${q.queryExecution.executedPlan}")
    val viaSql = q.collect().map(_.toString).sorted.toSeq
    val direct = src.collect().map(_.toString).sorted.toSeq
    assert(viaSql == direct, "columnar read must round-trip every type exactly")

    // a DV on the snapshot stays columnar (default since round 13 —
    // survivor-compacted batches), answers stay right
    TableLog.deleteWhere(spark, t, "k % 10 = 3")
    val q2 = spark.sql("SELECT * FROM graftcat.typed_c")
    assert(plan(q2).contains("ColumnarToRow"),
      "a DV-bearing snapshot must stay columnar by default")
    assert(q2.collect().length == 4500)

    // nested schema → ALSO vectorized since round 13 (SPARK-34863 reader);
    // values must round-trip through the struct vectors
    val tn = s"$root/nested_c"
    TableLog.commitAppend(
      spark.range(0, 100).selectExpr("id AS k", "named_struct('x', id) AS st"), tn)
    val q3 = spark.sql("SELECT k, st.x AS x FROM graftcat.nested_c")
    assert(plan(q3).contains("ColumnarToRow"),
      s"nested schemas must vectorize:\n${q3.queryExecution.executedPlan}")
    assert(q3.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 100L).map(i => (i, i)))
    // nested + a DV → the survivor compact only covers flat vectors: row reader
    TableLog.deleteWhere(spark, tn, "k % 10 = 3")
    val q3dv = spark.sql("SELECT k, st.x AS x FROM graftcat.nested_c")
    assert(!plan(q3dv).contains("ColumnarToRow"),
      "nested + DV must fall back to the Group row reader")
    assert(q3dv.collect().length == 90)
    // conf opt-out for the nested path only
    spark.conf.set("spark.graft.columnar.nested.enabled", "false")
    try {
      val q3off = spark.sql(
        "SELECT k, st.x AS x FROM graftcat.nested_c VERSION AS OF 0")
      assert(!plan(q3off).contains("ColumnarToRow"),
        "nested columnar conf opt-out must take the row reader")
      assert(q3off.collect().length == 100)
    } finally spark.conf.unset("spark.graft.columnar.nested.enabled")

    // conf opt-out
    spark.conf.set("spark.graft.columnar.enabled", "false")
    try {
      val q4 = spark.sql("SELECT k FROM graftcat.typed_c VERSION AS OF 0")
      assert(!plan(q4).contains("ColumnarToRow"), "conf must disable the columnar path")
      assert(q4.collect().length == 5000)
    } finally spark.conf.set("spark.graft.columnar.enabled", "true")
  }

  test("DV-columnar default-on: survivor-compacted batches stay position-exact") {
    Scratch.wipe(root)
    val t = s"$root/dvcol"
    // one file spanning MANY 4096-row vector batches, typed payload
    TableLog.commitAppend(
      spark.sql(
        """SELECT id AS k, md5(CAST(id AS STRING)) AS s,
          |       CAST(id AS DECIMAL(12,2)) / 4 AS m,
          |       CAST(id AS DOUBLE) / 7 AS d,
          |       IF(id % 11 = 0, CAST(NULL AS BIGINT), id * 3) AS nv
          |FROM range(0, 20000)""".stripMargin).coalesce(1), t)
    // scattered deletes (every 7th) PLUS a contiguous band that wipes a
    // whole vector batch — the fully-deleted-batch skip path
    TableLog.deleteWhere(spark, t, "k % 7 = 0 OR (k >= 8192 AND k < 12288)")
    register()
    // DEFAULT path (no conf set): DV-bearing snapshot must plan columnar
    val q = spark.sql("SELECT * FROM graftcat.dvcol")
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"DV default must plan columnar:\n${q.queryExecution.executedPlan}")
    val viaCol = q.collect().map(_.toString).sorted.toSeq
    // opt-OUT restores the position-exact Group row reader — same rows
    spark.conf.set("spark.graft.columnar.dv.enabled", "false")
    try {
      val qRow = spark.sql("SELECT * FROM graftcat.dvcol")
      qRow.collect()
      assert(!qRow.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"DV opt-out must take the row reader:\n${qRow.queryExecution.executedPlan}")
      val viaRow = qRow.collect().map(_.toString).sorted.toSeq
      assert(viaCol.length == viaRow.length && viaCol == viaRow,
        s"DV-columnar diverged from the row path: ${viaCol.length} vs ${viaRow.length}")
      // survivor arithmetic is exact: a position shift would flip parity
      val ks = q.select("k").collect().map(_.getLong(0))
      assert(ks.forall(k => k % 7 != 0 && !(k >= 8192 && k < 12288)))
      assert(ks.length == viaRow.length)
    } finally spark.conf.unset("spark.graft.columnar.dv.enabled")
  }

  test("array columns are SQL-queryable through the catalog") {
    Scratch.wipe(root)
    val t = s"$root/emb"
    TableLog.commitAppend(
      Tables.load(spark, sfDir, "embeddings"), t)
    register()
    val viaSql = spark.sql(
      "SELECT vec_id, size(embedding) AS d, " +
        "aggregate(embedding, CAST(0 AS LONG), " +
        "(a, x) -> a + CAST(floor(CAST(x AS DOUBLE) * 1000000) AS LONG)) AS s " +
        "FROM graftcat.emb")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val direct = TableLog.read(spark, t)
      .selectExpr("vec_id", "size(embedding) AS d",
        "aggregate(embedding, CAST(0 AS LONG), " +
          "(a, x) -> a + CAST(floor(CAST(x AS DOUBLE) * 1000000) AS LONG)) AS s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaSql == direct && viaSql.nonEmpty,
      "catalog array reads must equal the parquet read element-for-element")
  }

  test("absent tables and absent versions fail cleanly") {
    Scratch.wipe(root)
    val t = s"$root/ro"
    TableLog.commitAppend(spark.range(3).selectExpr("id AS k"), t)
    register()
    intercept[Exception](spark.sql("SELECT * FROM graftcat.nope").collect())
    // a version outside the committed set fails loudly
    intercept[Exception](
      spark.sql("SELECT * FROM graftcat.ro VERSION AS OF 99").collect())
  }

  private def dataFiles(t: String): Set[String] = {
    val d = new java.io.File(s"$t/data")
    if (!d.isDirectory) Set.empty
    else d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
  }

  test("CREATE TABLE + INSERT INTO/OVERWRITE route through the commit protocol") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.w (k BIGINT, s STRING)")           // v0: empty
    val t = s"$root/w"
    assert(TableLog.versions(t) == Seq(0L))
    assert(spark.sql("SELECT count(*) FROM graftcat.w").collect().head.getLong(0) == 0L)
    // duplicate create fails loudly
    intercept[Exception](spark.sql("CREATE TABLE graftcat.w (k BIGINT)"))

    spark.sql("INSERT INTO graftcat.w VALUES (1, 'a'), (2, 'b')")       // v1
    spark.range(3, 100).selectExpr("id AS k", "concat('s', id) AS s")
      .createOrReplaceTempView("w_src")
    spark.sql("INSERT INTO graftcat.w SELECT k, s FROM w_src")          // v2
    // SQL state == API read, and the metadata count(*) stays exact
    assert(spark.sql("SELECT * FROM graftcat.w").collect().map(_.toString).sorted.toSeq ==
      TableLog.read(spark, t).collect().map(_.toString).sorted.toSeq)
    val c = spark.sql("SELECT count(*) AS n FROM graftcat.w")
    assert(c.collect().head.getLong(0) == 99L)
    assert(c.queryExecution.executedPlan.toString.contains("GraftMetadataScan"))
    // column order normalizes to the table schema (by-name insert)
    spark.sql("INSERT INTO graftcat.w (s, k) VALUES ('z', 999)")        // v3
    assert(spark.sql("SELECT s FROM graftcat.w WHERE k = 999")
      .collect().map(_.getString(0)).toSeq == Seq("z"))

    // INSERT OVERWRITE replaces the snapshot; priors still time-travel
    val headBefore = TableLog.versions(t).last
    spark.sql("INSERT OVERWRITE graftcat.w VALUES (7, 'only')")
    assert(spark.sql("SELECT * FROM graftcat.w").collect().map(_.toString).toSeq ==
      Seq("[7,only]"))
    assert(spark.sql(s"SELECT count(*) FROM graftcat.w VERSION AS OF $headBefore")
      .collect().head.getLong(0) == 100L)
  }

  test("CTAS, DELETE FROM via deletion vectors, TRUNCATE and DROP") {
    Scratch.wipe(root)
    register()
    Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_ctas_src")
    spark.sql("CREATE TABLE graftcat.oc AS SELECT * FROM orders_ctas_src")
    val t = s"$root/oc"
    val expect = spark.table("orders_ctas_src")
    assert(spark.sql("SELECT count(*) FROM graftcat.oc").collect().head.getLong(0) ==
      expect.count())

    // DELETE WHERE: deletion vectors — every pre-delete data file survives
    val before = dataFiles(t)
    val headBefore = TableLog.versions(t).last
    spark.sql("DELETE FROM graftcat.oc WHERE o_orderstatus = 'F' AND o_orderkey < 1000")
    assert(before.subsetOf(dataFiles(t)),
      "a DV delete must not rewrite or remove data files")
    assert(spark.sql("SELECT * FROM graftcat.oc").collect().map(_.toString).sorted.toSeq ==
      expect.where("NOT (o_orderstatus = 'F' AND o_orderkey < 1000)")
        .collect().map(_.toString).sorted.toSeq)
    // pre-delete rows still time-travel, and the metadata count is DV-exact
    assert(spark.sql(s"SELECT count(*) FROM graftcat.oc VERSION AS OF $headBefore")
      .collect().head.getLong(0) == expect.count())
    assert(spark.sql("SELECT count(*) FROM graftcat.oc").collect().head.getLong(0) ==
      expect.where("NOT (o_orderstatus = 'F' AND o_orderkey < 1000)").count())

    // translatable predicates keep the DV path (files untouched above); an
    // UNtranslatable predicate falls back to the row-level COPY-ON-WRITE
    // rewrite — correct rows, new data files, prior version intact
    spark.sql("DELETE FROM graftcat.oc WHERE o_orderstatus IN ('X', 'Y')") // no-op DV
    val preCow = spark.sql("SELECT * FROM graftcat.oc").collect().map(_.toString).sorted.toSeq
    val cowHead = TableLog.versions(t).last
    spark.sql("DELETE FROM graftcat.oc WHERE o_orderkey % 10 = 3")
    assert(spark.sql("SELECT * FROM graftcat.oc").collect().map(_.toString).sorted.toSeq ==
      preCow.filterNot(_.drop(1).takeWhile(_ != ',').toLong % 10 == 3))
    assert(spark.sql(s"SELECT count(*) FROM graftcat.oc VERSION AS OF $cowHead")
      .collect().head.getLong(0) == preCow.size.toLong)

    // TRUNCATE: metadata-only empty commit; priors still readable
    val headFull = TableLog.versions(t).last
    spark.sql("TRUNCATE TABLE graftcat.oc")
    assert(spark.sql("SELECT count(*) FROM graftcat.oc").collect().head.getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM graftcat.oc VERSION AS OF $headFull")
      .collect().head.getLong(0) > 0L)

    // DROP removes the table
    spark.sql("DROP TABLE graftcat.oc")
    assert(!new java.io.File(t).exists())
    intercept[Exception](spark.sql("SELECT * FROM graftcat.oc").collect())
  }

  test("ALTER TABLE ADD COLUMN widens; old rows and old versions stay sound") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.ev (k BIGINT)")
    spark.sql("INSERT INTO graftcat.ev VALUES (1), (2)")
    val narrowHead = TableLog.versions(s"$root/ev").last
    spark.sql("ALTER TABLE graftcat.ev ADD COLUMN tag STRING")
    spark.sql("INSERT INTO graftcat.ev VALUES (3, 'wide')")
    assert(spark.sql("SELECT k, tag FROM graftcat.ev ORDER BY k")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) "∅" else r.getString(1)))
      .toSeq == Seq((1L, "∅"), (2L, "∅"), (3L, "wide")))
    // the pre-evolution snapshot keeps the narrow schema
    assert(spark.sql(s"SELECT * FROM graftcat.ev VERSION AS OF $narrowHead")
      .schema.fieldNames.toSeq == Seq("k"))
    // non-nullable / positioned adds are rejected loudly
    intercept[Exception](
      spark.sql("ALTER TABLE graftcat.ev ADD COLUMN x BIGINT FIRST"))
  }

  test("SQL UPDATE is a pinned copy-on-write rewrite through a real DSv2 batch write") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.u (k BIGINT, s STRING, x DOUBLE)")
    spark.sql("INSERT INTO graftcat.u SELECT id, concat('s', id), CAST(id AS DOUBLE) / 4 " +
      "FROM range(0, 1000)")
    val t = s"$root/u"
    val head = TableLog.versions(t).last
    val before = spark.sql("SELECT * FROM graftcat.u").collect().map(_.toString).sorted.toSeq

    spark.sql("UPDATE graftcat.u SET s = concat(s, '!'), x = x * 2 WHERE k % 7 = 0")
    val expect = TableLog.read(spark, t, asOf = Some(head))
      .selectExpr("k",
        "IF(k % 7 = 0, concat(s, '!'), s) AS s",
        "IF(k % 7 = 0, x * 2, x) AS x")
      .collect().map(_.toString).sorted.toSeq
    assert(spark.sql("SELECT * FROM graftcat.u").collect().map(_.toString).sorted.toSeq
      == expect)
    // copy-on-write: a NEW version, the pre-update snapshot fully intact
    assert(TableLog.versions(t).last == head + 1)
    assert(spark.sql(s"SELECT * FROM graftcat.u VERSION AS OF $head")
      .collect().map(_.toString).sorted.toSeq == before)
    // the metadata count(*) stays exact over the rewritten files
    val c = spark.sql("SELECT count(*) AS n FROM graftcat.u")
    assert(c.collect().head.getLong(0) == 1000L)
    assert(c.queryExecution.executedPlan.toString.contains("GraftMetadataScan"))

    // CHECK constraints veto the rewrite BEFORE anything publishes
    TableLog.addCheckConstraint(t, "x_bounded", "x < 1000000")
    val headCk = TableLog.versions(t).last
    intercept[Exception](
      spark.sql("UPDATE graftcat.u SET x = 1e9 WHERE k = 1"))
    assert(TableLog.versions(t).last == headCk, "a vetoed UPDATE must publish nothing")
    assert(spark.sql("SELECT x FROM graftcat.u WHERE k = 1").collect().head.getDouble(0)
      < 1000000)
  }

  test("SQL MERGE INTO upserts, updates and deletes in one statement") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.m (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftcat.m SELECT id, id FROM range(0, 100)")
    val t = s"$root/m"
    val head = TableLog.versions(t).last
    spark.sql("SELECT id AS k, id * 10 AS v FROM range(50, 150)")
      .createOrReplaceTempView("m_src")

    spark.sql(
      """MERGE INTO graftcat.m t USING m_src s ON t.k = s.k
        |WHEN MATCHED AND s.k < 60 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)

    val got = spark.sql("SELECT k, v FROM graftcat.m")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expect =
      (0L until 50L).map(k => (k, k)) ++          // untouched
      (60L until 100L).map(k => (k, k * 10)) ++   // matched update
      (100L until 150L).map(k => (k, k * 10))     // not-matched insert
    assert(got == expect.sorted.toSeq)            // 50..59 deleted
    // pre-merge snapshot intact
    assert(spark.sql(s"SELECT count(*) FROM graftcat.m VERSION AS OF $head")
      .collect().head.getLong(0) == 100L)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target; old snapshots stay narrow") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.me (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftcat.me SELECT id, id FROM range(0, 100)")
    val t = s"$root/me"
    val preMerge = TableLog.versions(t).last
    // source carries a column the target lacks
    spark.sql("SELECT id AS k, id * 10 AS v, concat('t', id) AS note FROM range(50, 150)")
      .createOrReplaceTempView("me_src")

    // WITHOUT the clause, a source-only column in the insert list must fail
    // loudly (capability alone never evolves)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """MERGE INTO graftcat.me t USING me_src s ON t.k = s.k
          |WHEN NOT MATCHED THEN INSERT (k, v, note) VALUES (s.k, s.v, s.note)""".stripMargin)
    }

    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftcat.me t USING me_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v, note = s.note
        |WHEN NOT MATCHED THEN INSERT (k, v, note) VALUES (s.k, s.v, s.note)""".stripMargin)

    val got = spark.sql("SELECT k, v, note FROM graftcat.me")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).sortBy(_._1).toSeq
    val expect =
      (0L until 50L).map(k => (k, k, null)) ++                  // untouched: null backfill
      (50L until 150L).map(k => (k, k * 10, s"t$k"))            // updated + inserted
    assert(got == expect)
    // the pre-merge snapshot still reads with the NARROW schema
    val old = spark.sql(s"SELECT * FROM graftcat.me VERSION AS OF $preMerge")
    assert(old.schema.fieldNames.toSeq == Seq("k", "v"),
      s"old snapshot must keep the narrow schema, got ${old.schema.fieldNames.toSeq}")
    assert(old.count() == 100L)
    // evolution landed as a widening commit + the rewrite (2 new versions)
    assert(TableLog.versions(t).last == preMerge + 2)
  }

  test("a selective UPDATE rewrites only the files its predicate touches") {
    Scratch.wipe(root)
    register()
    val t = s"$root/scoped"
    // 8 range-clustered files: k 0..999 → 1000..1999 → ... per file
    TableLog.commitAppend(
      spark.range(0, 8000).selectExpr("id AS k", "id AS v")
        .repartitionByRange(8, col("k")), t)
    // manifest-level live set via the _file metadata column (disk keeps
    // replaced files for time travel until vacuum, so dataFiles can't pin)
    def liveSet(): Set[String] =
      spark.sql("SELECT DISTINCT _file AS f FROM graftcat.scoped")
        .collect().map(_.getString(0)).toSet
    val before = liveSet()
    assert(before.size == 8)
    // the exact law: the rewrite scope == the files that actually hold
    // matching rows (1 or 2 of 8 — range-partitioner boundary sampling
    // decides whether the band straddles a file edge)
    val matched = spark.sql(
      "SELECT DISTINCT _file AS f FROM graftcat.scoped WHERE k >= 2000 AND k < 3000")
      .collect().map(_.getString(0)).toSet
    assert(matched.nonEmpty && matched.size <= 2, s"band spread over $matched")
    val head = TableLog.versions(t).last

    spark.sql("UPDATE graftcat.scoped SET v = v + 1 WHERE k >= 2000 AND k < 3000")

    val after = liveSet()
    assert(before -- after == matched,
      s"rewritten files ${before -- after} must be exactly the matched files $matched")
    // row identity: only the matched band bumped
    assert(spark.sql("SELECT sum(v) FROM graftcat.scoped").collect().head.getLong(0) ==
      (0L until 8000L).sum + 1000L)
    assert(spark.sql("SELECT count(*) FROM graftcat.scoped WHERE v = k + 1")
      .collect().head.getLong(0) == 1000L)
    // prior snapshot intact; kept files' identity preserved in the manifest
    assert(spark.sql(s"SELECT sum(v) FROM graftcat.scoped VERSION AS OF $head")
      .collect().head.getLong(0) == (0L until 8000L).sum)

    // kept files keep their DVs across a scoped rewrite of OTHER files
    spark.sql("DELETE FROM graftcat.scoped WHERE k < 10")             // DV on file 0
    spark.sql("UPDATE graftcat.scoped SET v = 0 WHERE k >= 7000")     // rewrite file 7
    assert(spark.sql("SELECT count(*) FROM graftcat.scoped").collect().head.getLong(0)
      == 7990L)
    assert(spark.sql("SELECT count(*) FROM graftcat.scoped WHERE k < 10")
      .collect().head.getLong(0) == 0L)
  }

  test("the _file metadata column is SQL-queryable") {
    Scratch.wipe(root)
    register()
    val t = s"$root/mf"
    TableLog.commitAppend(
      spark.range(0, 800).selectExpr("id AS k").repartitionByRange(4, col("k")), t)
    val groups = spark.sql(
      "SELECT _file, count(*) AS n FROM graftcat.mf GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(groups.length == 4 && groups.map(_._2).sum == 800L)
    assert(groups.forall(_._1.startsWith("data/")))
    // bare metadata-only projection works too
    assert(spark.sql("SELECT _file FROM graftcat.mf").collect().length == 800)
  }

  test("vacuum reclaims files a scoped rewrite replaced; kept files survive") {
    Scratch.wipe(root)
    register()
    val t = s"$root/vr"
    TableLog.commitAppend(
      spark.range(0, 4000).selectExpr("id AS k", "id AS v")
        .repartitionByRange(4, col("k")), t)
    def live(): Set[String] =
      spark.sql("SELECT DISTINCT _file AS f FROM graftcat.vr")
        .collect().map(_.getString(0)).toSet
    val before = live()
    spark.sql("UPDATE graftcat.vr SET v = v + 1 WHERE k < 500")
    val after = live()
    val replaced = before -- after
    assert(replaced.nonEmpty && (after -- before).nonEmpty)
    // old version still reads the replaced files — then vacuum drops it
    TableLog.vacuum(t, keepVersions = 1)
    replaced.foreach(f => assert(!new java.io.File(s"$t/$f").exists(),
      s"vacuum must reclaim replaced file $f"))
    (after & before).foreach(f => assert(new java.io.File(s"$t/$f").exists(),
      s"kept file $f must survive vacuum"))
    // the table still reads exactly, metadata count included
    assert(spark.sql("SELECT count(*) FROM graftcat.vr").collect().head.getLong(0) == 4000L)
    assert(spark.sql("SELECT sum(v) FROM graftcat.vr").collect().head.getLong(0) ==
      (0L until 4000L).sum + 500L)
  }

  test("readStream.table streams catalog tables as an append feed") {
    Scratch.wipe(root)
    register()
    val t = s"$root/st"
    TableLog.commitAppend(spark.range(0, 5).selectExpr("id AS k"), t)   // v0
    TableLog.commitAppend(spark.range(5, 8).selectExpr("id AS k"), t)   // v1
    val ckpt = s"$root/st_ckpt"
    val got = collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val q = spark.readStream.table("graftcat.st")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.collect().map(_.getLong(0)); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(got.sorted.toSeq == (0L until 8L).toSeq, s"full history first: $got")
    // only NEW commits on resume — checkpointed at commit-version offsets
    spark.sql("INSERT INTO graftcat.st VALUES (100), (101)")            // v2 via SQL
    drain()
    assert(got.sorted.toSeq == ((0L until 8L) ++ Seq(100L, 101L)).toSeq,
      s"resume must deliver exactly v2: $got")
    // a DV delete makes the append stream FAIL LOUDLY...
    spark.sql("DELETE FROM graftcat.st WHERE k = 100")                  // v3 (DV)
    val e = intercept[Exception] { drain() }
    def msgs(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + msgs(x.getCause)
    assert(msgs(e).contains("ignoreChanges"), s"expected the loud delete error, got $e")
    // ...and ignoreChanges opts into skipping the delete delta
    val got2 = collection.mutable.ArrayBuffer.empty[Long]
    val q2 = spark.readStream.option("ignoreChanges", "true").table("graftcat.st")
      .writeStream.option("checkpointLocation", s"$root/st_ckpt2")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got2 ++= b.collect().map(_.getLong(0)); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(got2.sorted.toSeq == ((0L until 8L) ++ Seq(100L, 101L)).toSeq,
      s"ignoreChanges must deliver every append and skip the delete: $got2")
  }

  test("metadata tables: history classifies commits, files lists the snapshot") {
    import graft.sources.TableLog
    import org.apache.spark.sql.functions.col
    val t = s"$root/meta_t"
    Scratch.wipe(t)
    register()
    import spark.implicits._
    TableLog.commitAppend((1L to 100L).toDF("k"), t)                   // v0 append
    TableLog.commitAppend((101L to 130L).toDF("k"), t)                 // v1 append
    TableLog.deleteWhere(spark, t, "k % 10 = 0")                       // v2 DV delete
    TableLog.optimize(spark, t, nFiles = 1)                            // v3 rewrite
    val h = spark.sql("SELECT * FROM graftcat.meta_t.history ORDER BY version")
      .collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("append", "append", "delete", "overwrite"),
      h.map(_.toString).mkString("\n"))
    assert(h.map(_.getAs[Long]("n_live_rows")).toSeq == Seq(100L, 130L, 117L, 117L))
    assert(h(2).getAs[Int]("n_dv_files") == 1 && h(3).getAs[Int]("n_dv_files") == 0)
    // files at the head: compaction rewrote to 1 file holding the survivors
    val f = spark.sql("SELECT * FROM graftcat.meta_t.files").collect()
    assert(f.length == 1 && f.head.getAs[Long]("rows") == 117L)
    assert(f.head.getAs[Long]("bytes") > 0)
    // VERSION AS OF pins the snapshot: v2's files still hold ALL 130 rows
    // (a DV delete rewrites nothing — the whole point of the DV path)
    val f2 = spark.sql(
      "SELECT CAST(sum(rows) AS LONG) AS r, count(*) AS nf " +
        "FROM graftcat.meta_t.files VERSION AS OF 2").collect().head
    assert(f2.getAs[Long]("r") == 130L)
    assert(f2.getAs[Long]("nf") > 1)
    // the Hive-style $-form resolves to the same relation
    val dollar = spark.sql("SELECT count(*) AS n FROM graftcat.`meta_t$history`")
      .collect().head.getAs[Long]("n")
    assert(dollar == 4L)
    // a plain table named like a kind is NOT shadowed (namespaces are
    // directories, committed tables never are)
    TableLog.commitAppend((1L to 5L).toDF("k"), s"$root/history")
    assert(spark.sql("SELECT count(*) FROM graftcat.history")
      .collect().head.getLong(0) == 5L)
  }

  test("CHECK constraints enforce through SQL INSERT") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.ck (k BIGINT)")
    val t = s"$root/ck"
    TableLog.addCheckConstraint(t, "k_pos", "k > 0")
    spark.sql("INSERT INTO graftcat.ck VALUES (5)")
    val head = TableLog.versions(t).last
    val e = intercept[Exception](spark.sql("INSERT INTO graftcat.ck VALUES (-1)"))
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Seq.empty else x +: causes(x.getCause)
    assert(causes(e).exists(_.getMessage != null)
      && causes(e).exists(c => Option(c.getMessage).exists(_.contains("k_pos"))),
      s"expected a CHECK violation naming k_pos, got: ${e.getMessage}")
    // the failed insert published nothing
    assert(TableLog.versions(t).last == head)
    assert(spark.sql("SELECT count(*) FROM graftcat.ck").collect().head.getLong(0) == 1L)
  }

  test("bucketBy property: co-bucketed tables join with ZERO shuffle (storage-partitioned join)") {
    Scratch.wipe(root)
    register()
    spark.sql("CREATE TABLE graftcat.bfact (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.bucketBy'='k', 'graft.bucketBy.n'='8')")
    spark.sql("CREATE TABLE graftcat.bdim (k BIGINT, w BIGINT) " +
      "TBLPROPERTIES ('graft.bucketBy'='k', 'graft.bucketBy.n'='8')")
    spark.range(0, 4000).selectExpr("id % 500 AS k", "id AS v")
      .createOrReplaceTempView("bfact_src")
    spark.range(0, 500).selectExpr("id AS k", "id * 7 AS w")
      .createOrReplaceTempView("bdim_src")
    spark.sql("INSERT INTO graftcat.bfact SELECT k, v FROM bfact_src")
    spark.sql("INSERT INTO graftcat.bdim SELECT k, w FROM bdim_src")
    // every non-empty live file carries a bucket id (v0's zero-row file is
    // coverage-exempt), and no bucket id exceeds the declared count
    val fb = TableLog.fileBuckets(s"$root/bfact")
    val live = TableLog.liveNonEmpty(s"$root/bfact",
      TableLog.versions(s"$root/bfact").last)
    assert(live.nonEmpty && live.forall(fb.contains),
      s"bucketed insert must record a bucket per file: $fb vs $live")
    assert(fb.values.forall(b => b >= 0 && b < 8))

    // BUCKET pruning: a hash layout scatters key ranges across every file
    // (min/max stats can't prune), but k = 123 keeps only bucket(123)'s
    // files — metadata arithmetic, no sidecar stats needed
    val pt = spark.sql("SELECT count(*) AS n FROM graftcat.bfact WHERE k = 123")
    assert(pt.collect().head.getLong(0) == 8L) // 4000 rows, k = id % 500
    val ptDesc = pt.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftLogScan")).getOrElse("")
    val pm = """files=(\d+)/(\d+)""".r.findFirstMatchIn(ptDesc)
    assert(pm.isDefined && pm.get.group(1).toInt < pm.get.group(2).toInt,
      s"bucket point lookup must skip files: $ptDesc")
    // IN lists prune to the union of the listed values' buckets
    val ptIn = spark.sql(
      "SELECT count(*) AS n FROM graftcat.bfact WHERE k IN (123, 124)")
    assert(ptIn.collect().head.getLong(0) == 16L)

    val expected = spark.sql(
      "SELECT sum(f.v * d.w) FROM bfact_src f JOIN bdim_src d ON f.k = d.k")
      .collect().head.getLong(0)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, value) => spark.conf.set(key, value) }
    try {
      def joinPlan(): (Long, String) = {
        val df = spark.sql("SELECT sum(f.v * d.w) AS s " +
          "FROM graftcat.bfact f JOIN graftcat.bdim d ON f.k = d.k")
        val got = df.collect().head.getLong(0)
        // AQE: the final plan is the section BEFORE "== Initial Plan ==",
        // readable only from the SAME QueryExecution after execution
        (got, df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      }
      val (got, plan) = joinPlan()
      assert(got == expected, s"SPJ join diverged: $got vs $expected")
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"co-bucketed join must not shuffle (only the final agg exchange): $exchanges\n$plan")
      // single INSERT -> one file per bucket -> partitions arrive
      // key-sorted and the scan reports it: the merge join plans with
      // NEITHER shuffle NOR sort ("Sort [" is the SortExec node print;
      // SortMergeJoin itself doesn't match)
      assert(!plan.contains("Sort ["),
        s"single-file buckets must satisfy the merge join's sort:\n$plan")

      // the partitioning also serves GROUP BY on the bucket key: the
      // aggregate clusters by k, which bucket(8, k) already satisfies
      val agg = spark.sql(
        "SELECT k, sum(v) AS sv FROM graftcat.bfact GROUP BY k")
      assert(agg.collect().length == 500)
      val aggPlan = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!aggPlan.contains("Exchange"),
        s"GROUP BY on the bucket key must not shuffle:\n$aggPlan")

      // DV deletes keep the storage partitioning (rows never change
      // bucket); the simple comparison renders to SQL, so this takes the
      // DV path, not copy-on-write — pin that, the law depends on it
      spark.sql("DELETE FROM graftcat.bfact WHERE v >= 3000")
      assert(TableLog.dvFiles(s"$root/bfact",
        TableLog.versions(s"$root/bfact").last).nonEmpty,
        "delete must take the DV path for this test to pin DV+SPJ")
      val expected2 = spark.sql(
        "SELECT sum(f.v * d.w) FROM bfact_src f JOIN bdim_src d ON f.k = d.k " +
          "WHERE f.v < 3000").collect().head.getLong(0)
      val (got2, plan2) = joinPlan()
      assert(got2 == expected2, s"post-DELETE SPJ join diverged: $got2 vs $expected2")
      assert("Exchange".r.findAllIn(plan2).size == 1,
        s"DV-bearing bucketed join must stay shuffle-free:\n$plan2")

      // compaction writes unbucketed files -> the scan DEGRADES to a
      // shuffled join (sound), results unchanged
      TableLog.optimize(spark, s"$root/bfact", nFiles = 2)
      val (got3, plan3) = joinPlan()
      assert(got3 == expected2, s"post-compaction join diverged: $got3 vs $expected2")
      assert("Exchange".r.findAllIn(plan3).size > 1,
        s"compacted files have no bucket ids; partitioning must degrade:\n$plan3")

      // INSERT OVERWRITE re-buckets and restores the shuffle-free join
      spark.sql("INSERT OVERWRITE graftcat.bfact " +
        "SELECT k, v FROM bfact_src WHERE v < 3000")
      val (got4, plan4) = joinPlan()
      assert(got4 == expected2, s"re-bucketed join diverged: $got4 vs $expected2")
      assert("Exchange".r.findAllIn(plan4).size == 1,
        s"INSERT OVERWRITE must restore the bucketed layout:\n$plan4")
      assert(!plan4.contains("Sort ["),
        s"fresh OVERWRITE is one file per bucket — sort-free:\n$plan4")

      // a second append makes buckets MULTI-file: concatenated sorted runs
      // are not sorted, so the ordering claim WITHDRAWS (a Sort returns)
      // while the partitioning — still bucket-pure — keeps the join
      // shuffle-free
      spark.sql("INSERT INTO graftcat.bfact SELECT k, v + 1000000 AS v " +
        "FROM bfact_src WHERE v < 100")
      val (got5, plan5) = joinPlan()
      val expected3 = spark.sql(
        "SELECT sum(f.v * d.w) FROM (SELECT k, v FROM bfact_src WHERE v < 3000 " +
          "UNION ALL SELECT k, v + 1000000 FROM bfact_src WHERE v < 100) f " +
          "JOIN bdim_src d ON f.k = d.k").collect().head.getLong(0)
      assert(got5 == expected3, s"post-append join diverged: $got5 vs $expected3")
      assert("Exchange".r.findAllIn(plan5).size == 1,
        s"multi-file buckets must stay shuffle-free:\n$plan5")
      assert(plan5.contains("Sort ["),
        s"multi-file buckets are unsorted — the ordering claim must withdraw:\n$plan5")
    } finally saved.foreach {
      case (key, Some(value)) => spark.conf.set(key, value)
      case (key, None) => spark.conf.unset(key)
    }
    // clusterBy + bucketBy on one table is refused at write time
    spark.sql("ALTER TABLE graftcat.bfact SET TBLPROPERTIES ('graft.clusterBy'='k')")
    intercept[Exception] {
      spark.sql("INSERT INTO graftcat.bfact SELECT k, v FROM bfact_src")
    }
  }
}
