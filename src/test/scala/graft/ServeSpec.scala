package graft

import java.sql.DriverManager

/** The resident JDBC endpoint ([[Serve]]) actually serves a §2 analysis:
  * starts HiveServer2 in-process over sf0.001, connects with the Hive JDBC
  * driver like an external dashboard would, and reads `a1_volatility`
  * (§2 A1) plus base-table aggregates through real Thrift round-trips.
  * One server lifetime for every case — HiveServer2 registers JVM-global
  * state, so a second in-process instance cannot rebind.
  */
class ServeSpec extends SparkSpec {

  test("thrift endpoint serves A1 analysis, raw tables, and table-log snapshots over JDBC") {
    val root = "/tmp/graft_test_serve_tlog"
    Scratch.wipe(root)

    val port = 10816 // fixed uncommon port; sandbox runs one test JVM
    val server = Serve.start(spark, sfDir, port)
    try {
      assert(Serve.awaitPort(port), s"HiveServer2 did not open port $port")
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/", "anonymous", "")
      try {
        // §2 A1 served as a view — what the reference's Grafana panel charts
        val rs = conn.createStatement().executeQuery(
          "SELECT count(*) AS n, count(DISTINCT user_id) AS n_users " +
            "FROM global_temp.q_a1_volatility")
        assert(rs.next())
        val (n, users) = (rs.getLong(1), rs.getLong(2))
        assert(n > 0, "a1_volatility served 0 rows")
        assert(users > 0)
        // and the served rows equal the batch engine's own result
        val direct = graft.analytics.Analytics.volatility(spark, sfDir).count()
        assert(n == direct, s"JDBC row count $n != direct $direct")
        // base tables are served too (ad-hoc dashboard queries)
        val rs2 = conn.createStatement().executeQuery(
          "SELECT count(*) FROM global_temp.lineitem")
        assert(rs2.next() && rs2.getLong(1) > 0)
        // the growth-dashboard row ships by default: rolling actives and
        // the decayed trending leaderboard answer over the same connection
        val rsW = conn.createStatement().executeQuery(
          "SELECT max(wau) FROM global_temp.q_rolling_wau")
        assert(rsW.next() && rsW.getLong(1) > 0, "rolling_wau view must serve rows")
        val rsT = conn.createStatement().executeQuery(
          "SELECT count(*) FROM global_temp.q_trending_decay WHERE rank <= 5")
        assert(rsT.next() && rsT.getLong(1) == 5L, "trending view must serve the cut")

        // --- table-log-backed serving on the SAME endpoint ---
        val cust = Tables.load(spark, sfDir, "customer")
        // v0: a committed snapshot DIFFERENT from the raw parquet, so a
        // served count proves which source backs the view
        graft.sources.TableLog.commitOverwrite(cust.limit(40), s"$root/customer")
        Serve.registerViews(spark, sfDir, tableLogRoot = Some(root))
        def servedCount(): Long = {
          val r = conn.createStatement().executeQuery(
            "SELECT count(*) FROM global_temp.customer")
          assert(r.next()); r.getLong(1)
        }
        assert(servedCount() == 40L,
          "customer view must serve the table-log snapshot, not raw parquet")
        // tables WITHOUT a committed log still serve from raw parquet
        val rs3 = conn.createStatement().executeQuery(
          "SELECT count(*) FROM global_temp.orders")
        assert(rs3.next() && rs3.getLong(1) > 0)
        // a new commit + re-register follows the log head (snapshot per
        // registration — exactly TableLog.read's isolation contract)
        graft.sources.TableLog.commitOverwrite(cust.limit(25), s"$root/customer")
        Serve.registerViews(spark, sfDir, tableLogRoot = Some(root))
        assert(servedCount() == 25L, "re-registered view must follow the new commit")
        // and time travel still reads v0 through the same log
        assert(graft.sources.TableLog.read(spark, s"$root/customer", asOf = Some(0L))
          .count() == 40L)

        // --- the SQL catalog over the same endpoint: VERSION AS OF through
        // plain JDBC text, and the metadata count(*) path. A session's
        // SQLConf snapshots at open, so the catalog reaches connections
        // opened AFTER registration (the real lifecycle: Serve.start
        // registers before the port opens) — use a fresh connection.
        val conn2 = DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/", "anonymous", "")
        try {
          def one(sql: String): Long = {
            val r = conn2.createStatement().executeQuery(sql)
            assert(r.next(), s"no row from: $sql"); r.getLong(1)
          }
          assert(one("SELECT count(*) FROM graft.customer") == 25L,
            "catalog count must serve the head snapshot via metadata")
          assert(one("SELECT count(*) FROM graft.customer VERSION AS OF 0") == 40L,
            "catalog time travel must reach v0 over JDBC")
          assert(one("SELECT count(DISTINCT c_custkey) FROM graft.customer") == 25L,
            "catalog data reads must work over JDBC")

          // --- SQL DML over the SAME JDBC endpoint: the serving layer is
          // also a write path, every statement a real log commit ---
          val st = conn2.createStatement()
          st.execute("CREATE TABLE graft.jdbc_writes (k BIGINT, s STRING)") // v0
          st.execute("INSERT INTO graft.jdbc_writes VALUES (1,'a'), (2,'b'), (3,'c')") // v1
          st.execute("UPDATE graft.jdbc_writes SET s = 'z' WHERE k = 2")    // v2 CoW
          st.execute("DELETE FROM graft.jdbc_writes WHERE k = 3")           // v3 DV
          assert(one("SELECT count(*) FROM graft.jdbc_writes") == 2L,
            "JDBC DML must land: 3 inserted, 1 deleted")
          val rz = conn2.createStatement().executeQuery(
            "SELECT s FROM graft.jdbc_writes WHERE k = 2")
          assert(rz.next() && rz.getString(1) == "z", "JDBC UPDATE must apply")
          // history is real: pre-update/delete snapshot over the same wire
          assert(one("SELECT count(*) FROM graft.jdbc_writes VERSION AS OF 1") == 3L,
            "JDBC writes must time-travel like any commit")

          // --- atomic CROSS-TABLE transaction over the same wire: one
          // CALL statement stages both tables, writes the intent, then
          // publishes under one xt tag — both land or neither ---
          st.execute("CREATE TABLE graft.txn_a (k BIGINT, s STRING)") // v0
          st.execute("CREATE TABLE graft.txn_b (k BIGINT, s STRING)") // v0
          val call = "CALL graft.system.txn_commit('jdbc_t1', " +
            "array('txn_a','txn_b'), array('append','append'), " +
            "array('SELECT CAST(1 AS BIGINT) AS k, ''x'' AS s', " +
            "      'SELECT CAST(2 AS BIGINT) AS k, ''y'' AS s'))"
          val rsC = conn2.createStatement().executeQuery(call)
          val landed = scala.collection.mutable.Map.empty[String, Long]
          while (rsC.next()) landed += rsC.getString(1) -> rsC.getLong(2)
          assert(landed.keySet == Set("txn_a", "txn_b") &&
            landed.values.forall(_ == 1L), s"CALL must report landed versions: $landed")
          assert(one("SELECT count(*) FROM graft.txn_a") == 1L)
          assert(one("SELECT count(*) FROM graft.txn_b") == 1L)
          // both publishes carry the transaction's tag (the atomicity unit)
          Seq("txn_a", "txn_b").foreach(t => assert(
            graft.sources.TableLog.committedTxns(s"$root/$t").contains("xt_jdbc_t1"),
            s"$t's commit must be tagged by the transaction"))
          // torn state invisible: the split-free snapshot includes the txn
          // on BOTH tables (never one-with, one-without)
          val snap = graft.sources.Txn.consistentSnapshot(
            s"$root/_txn", Seq(s"$root/txn_a", s"$root/txn_b"))
          assert(snap.values.toSet == Set(1L),
            s"consistent snapshot must not split the transaction: $snap")
          // replaying the same id over JDBC is a READ of the recorded
          // versions, never a second commit
          val rsR = conn2.createStatement().executeQuery(call)
          assert(rsR.next(), "replayed CALL must return the recorded versions")
          assert(one("SELECT count(*) FROM graft.txn_a") == 1L,
            "replayed CALL must not commit twice")

          // --- storage MAINTENANCE over the same wire: each CALL delegates
          // to the exact TableLog entry point the CLI uses, so JDBC and CLI
          // semantics cannot drift ---
          val tw = s"$root/jdbc_writes"
          import graft.sources.TableLog
          // jdbc_writes history so far: v0 create, v1 insert, v2 update(CoW),
          // v3 delete(DV)
          assert(one("CALL graft.system.optimize('jdbc_writes', 1)") == 4L,
            "optimize must commit a new version and report it")       // v4
          assert(TableLog.liveFileCount(tw) == 1, "optimize must compact to 1 file")
          assert(one("SELECT count(*) FROM graft.jdbc_writes") == 2L,
            "compaction must not change the data")
          // tag v1 over JDBC; vacuum must then refuse to cross it
          val rsT2 = conn2.createStatement().executeQuery(
            "CALL graft.system.tag('jdbc_writes', 'audit2026', 1)")
          assert(rsT2.next() && rsT2.getString(1) == "audit2026" && rsT2.getLong(2) == 1L)
          assert(TableLog.refVersion(tw, "audit2026").contains(1L),
            "SQL tag must land in the refs sidecar the CLI reads")
          // dry run reports v0 only (the untagged prefix) and mutates nothing
          val rsP = conn2.createStatement().executeQuery(
            "CALL graft.system.vacuum_plan('jdbc_writes', 1)")
          assert(rsP.next() && rsP.getLong(1) == 1L,
            "vacuum_plan must report exactly the untagged prefix (v0)")
          assert(TableLog.versions(tw) == Seq(0L, 1L, 2L, 3L, 4L),
            "vacuum_plan is a dry run — no version may drop")
          val rsV = conn2.createStatement().executeQuery(
            "CALL graft.system.vacuum('jdbc_writes', 1)")
          assert(rsV.next() && rsV.getLong(1) == 1L)
          assert(TableLog.versions(tw) == Seq(1L, 2L, 3L, 4L),
            "vacuum over JDBC must honor the tag: drop v0, keep v1+")
          // tagged snapshot still readable over the same wire, BY NAME
          assert(one("SELECT count(*) FROM graft.jdbc_writes VERSION AS OF 'audit2026'") == 3L,
            "the tagged snapshot must survive vacuum and resolve by name")
          // rollback republished v1 as v5; the change feed emits the undo
          assert(one("CALL graft.system.rollback('jdbc_writes', 1)") == 5L)
          assert(one("SELECT count(*) FROM graft.jdbc_writes") == 3L,
            "rollback must restore v1's 3 rows")
          val undo = TableLog.changeFeed(spark, tw, 4L, 5L)
          val undoIns = undo.where("_change_type = 'insert' AND k = 3").count()
          assert(undoIns == 1L,
            "the rollback commit must emit the undo feed (k=3 re-inserts)")
          // untag releases the pin; vacuum can then reclaim everything old
          val rsU = conn2.createStatement().executeQuery(
            "CALL graft.system.untag('jdbc_writes', 'audit2026')")
          assert(rsU.next() && rsU.getBoolean(1), "untag must report removal")
          val rsV2 = conn2.createStatement().executeQuery(
            "CALL graft.system.vacuum('jdbc_writes', 1)")
          assert(rsV2.next() && rsV2.getLong(1) == 4L,
            "post-untag vacuum must reclaim the whole prefix (v1..v4)")
          assert(TableLog.versions(tw) == Seq(5L))
          // zorder over JDBC: clustered rewrite on two long columns
          st.execute("CREATE TABLE graft.jdbc_z (a BIGINT, b BIGINT)")
          st.execute(
            "INSERT INTO graft.jdbc_z SELECT id % 64 AS a, id DIV 64 AS b FROM range(0, 4096)")
          assert(one("CALL graft.system.zorder('jdbc_z', 'a', 'b', 4)") == 2L,
            "zorder must commit the clustered rewrite")
          assert(one("SELECT count(*) FROM graft.jdbc_z") == 4096L)
          assert(TableLog.liveFileCount(s"$root/jdbc_z") == 4)
          // analyze: footer-only stats build over the wire, then clone +
          // size-targeted compaction — the full retrofit/dev-branch loop
          val rsA = conn2.createStatement().executeQuery(
            "CALL graft.system.analyze('jdbc_z', array('a', 'b'))")
          assert(rsA.next() && rsA.getLong(1) == 8L,
            "analyze must record 4 files x 2 long columns")
          assert(one("CALL graft.system.clone('jdbc_z', 'jdbc_z_dev')") == 0L,
            "clone starts its own history at v0")
          assert(one("SELECT count(*) FROM graft.jdbc_z_dev") == 4096L)
          st.execute("DELETE FROM graft.jdbc_z_dev WHERE a < 32")
          assert(one("SELECT count(*) FROM graft.jdbc_z") == 4096L,
            "a clone delete must never reach the source")
          assert(one("CALL graft.system.optimize_size('jdbc_z', 1073741824)") == 3L,
            "a GB-sized target compacts the 4-file table to 1 file as v3")
          assert(TableLog.liveFileCount(s"$root/jdbc_z") == 1)
          // index maintenance over the wire: bloom + NDV sidecars land where
          // the API readers look
          val rsB = conn2.createStatement().executeQuery(
            "CALL graft.system.build_bloom('jdbc_z', 'a')")
          assert(rsB.next() && rsB.getLong(1) == 1L,
            "build_bloom must index the single compacted live file")
          assert(one("CALL graft.system.build_ndv('jdbc_z', array('a', 'b'))") == 2L)
          val ndvLines = java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(s"$root/jdbc_z/_log/ndv.txt"))
          assert(ndvLines.stream().anyMatch(l => l.split('|').length == 3 &&
            l.split('|')(1) == "a"),
            "SQL build_ndv must land in the sidecar the broadcast rule reads")
          // DR round-trip over the wire: backup → restore → identical reads;
          // a tampered backup is refused
          val bdir = s"$root/_backup_jdbc_z"
          assert(one(s"CALL graft.system.backup('jdbc_z', '$bdir')") >= 0L)
          assert(one(s"CALL graft.system.restore('$bdir', 'jdbc_z_restored')") >= 0L)
          assert(one("SELECT count(*) FROM graft.jdbc_z_restored") == 4096L)
          assert(one(
            """SELECT count(*) FROM (
              |  SELECT a, b FROM graft.jdbc_z
              |  EXCEPT
              |  SELECT a, b FROM graft.jdbc_z_restored) d""".stripMargin) == 0L,
            "restored content must equal the source snapshot")
          // path escapes are rejected at the name check, not resolved
          val esc = intercept[Exception](conn2.createStatement().executeQuery(
            "CALL graft.system.optimize('../jdbc_writes', 1)"))
          assert(esc.getMessage != null)
        } finally conn2.close()
      } finally conn.close()
    } finally server.stop()
  }
}
