package graft

import graft.sources.{TableLog, Txn}
import graft.sources.Txn.Write
import org.apache.spark.sql.functions._

/** Cross-table transaction laws:
  *
  *  - commitAll lands every member table, tags each manifest `xt_<id>`,
  *    and replaying a completed id returns the recorded versions without
  *    writing anything;
  *  - a crash mid-publish (intent present, done marker absent) leaves the
  *    half-landed txn INVISIBLE to [[Txn.consistentSnapshot]] — both
  *    member tables pin below it — while fully-landed txns and non-txn
  *    commits stay visible;
  *  - [[Txn.recover]] rolls the crash forward idempotently (from the
  *    intent alone), after which the snapshot includes the txn on all
  *    members;
  *  - a cascade of partial txns caps transitively (fixpoint), and a
  *    CHECK-violating member aborts the whole txn BEFORE any intent or
  *    publish — no table moves.
  */
class TxnSpec extends SparkSpec {

  private def root(tag: String): String = {
    val d = Scratch.dir(s"graft_txnspec_$tag", "x")
    Scratch.wipe(d)
    d
  }

  private def kv(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("commitAll lands all tables atomically; replay of a done id is a read") {
    val d = root("land")
    val (a, b, tr) = (s"$d/a", s"$d/b", s"$d/_txns")
    val got = Txn.commitAll(spark, tr, "t1",
      Seq(Write(kv("x" -> 1L), a), Write(kv("y" -> 2L), b)))
    assert(got.values.toSet == Set(0L))
    assert(TableLog.committedTxns(a).contains("xt_t1"))
    assert(TableLog.committedTxns(b).contains("xt_t1"))
    // replay: same versions back, no new commit
    val again = Txn.commitAll(spark, tr, "t1",
      Seq(Write(kv("z" -> 9L), a), Write(kv("z" -> 9L), b)))
    assert(again == got)
    assert(TableLog.versions(a) == Seq(0L) && TableLog.versions(b) == Seq(0L))
    assert(TableLog.read(spark, a).agg(sum("v")).collect().head.getLong(0) == 1L)
  }

  test("a half-landed txn is invisible to the consistent snapshot, visible after recover") {
    val d = root("torn")
    val (a, b, tr) = (s"$d/a", s"$d/b", s"$d/_txns")
    Txn.commitAll(spark, tr, "t1",
      Seq(Write(kv("x" -> 1L), a), Write(kv("x" -> 10L), b)))
    // a non-txn commit interleaves — must stay visible on its own table
    TableLog.commitAppend(kv("solo" -> 100L), a)
    intercept[IllegalStateException] {
      Txn.commitAll(spark, tr, "t2",
        Seq(Write(kv("y" -> 2L), a), Write(kv("y" -> 20L), b)),
        failAfterTables = 1)
    }
    // raw heads ARE torn: a has t2's rows, b does not
    assert(TableLog.read(spark, a).where(col("k") === "y").count() == 1)
    assert(TableLog.read(spark, b).where(col("k") === "y").count() == 0)
    // the snapshot is not: a pins below t2 (keeping t1 + the solo append)
    val snap = Txn.consistentSnapshot(tr, Seq(a, b))
    val sa = TableLog.read(spark, a, Some(snap(java.nio.file.Paths.get(a)
      .toAbsolutePath.normalize.toString)))
    assert(sa.where(col("k") === "y").count() == 0, "torn txn leaked into snapshot")
    assert(sa.where(col("k") === "solo").count() == 1, "non-txn commit lost")
    assert(sa.where(col("k") === "x").count() == 1)
    // recover rolls t2 forward; the snapshot then includes it everywhere
    assert(Txn.recover(spark, tr) == Seq("t2"))
    assert(Txn.recover(spark, tr).isEmpty, "recover must be idempotent")
    val after = Txn.readConsistent(spark, tr, Seq(a, b))
    assert(after.values.forall(_.where(col("k") === "y").count() == 1))
  }

  test("cascading partial txns cap transitively to a split-free point") {
    val d = root("cascade")
    val (a, b, c, tr) = (s"$d/a", s"$d/b", s"$d/c", s"$d/_txns")
    Txn.commitAll(spark, tr, "t0", Seq(
      Write(kv("base" -> 1L), a), Write(kv("base" -> 1L), b),
      Write(kv("base" -> 1L), c)))
    // t1 lands on a+b fully... then t2 (b+c) crashes after b. Excluding t2
    // caps b below it; t1 stays fully included (a@t1, b@t1) — only the
    // suffix after t1 on b is lost.
    Txn.commitAll(spark, tr, "t1", Seq(
      Write(kv("t1" -> 2L), a), Write(kv("t1" -> 2L), b)))
    intercept[IllegalStateException] {
      Txn.commitAll(spark, tr, "t2", Seq(
        Write(kv("t2" -> 3L), b), Write(kv("t2" -> 3L), c)),
        failAfterTables = 1)
    }
    val snap = Txn.readConsistent(spark, tr, Seq(a, b, c))
    val byK = snap.map { case (t, df) =>
      t.split('/').last -> df.select("k").collect().map(_.getString(0)).toSet }
    assert(byK("a") == Set("base", "t1"))
    assert(byK("b") == Set("base", "t1"), s"b saw ${byK("b")}")
    assert(byK("c") == Set("base"))
    Txn.recover(spark, tr)
    val rec = Txn.readConsistent(spark, tr, Seq(a, b, c))
    assert(rec.map(_._2.count()).toSeq.sorted == Seq(2, 2, 3))
  }

  test("a CHECK-violating member aborts the whole txn before anything publishes") {
    val d = root("check")
    val (a, b, tr) = (s"$d/a", s"$d/b", s"$d/_txns")
    TableLog.commitOverwrite(kv(), a)
    TableLog.commitOverwrite(kv(), b)
    TableLog.addCheckConstraint(b, "v_pos", "v > 0")
    intercept[Exception] {
      Txn.commitAll(spark, tr, "bad",
        Seq(Write(kv("x" -> 1L), a), Write(kv("neg" -> -5L), b)))
    }
    // staging order is the write order: a staged fine, b's constraint blew
    // BEFORE the intent — so no obligation exists and nothing moved
    assert(TableLog.versions(a) == Seq(0L) && TableLog.versions(b) == Seq(0L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(tr).resolve("bad.intent")))
    assert(Txn.recover(spark, tr).isEmpty)
  }

  test("registry query end to end at sf0.001") {
    val df = Txn.queries("txn_atomic_snapshot")(spark, sfDir)
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("torn", "recovered"))
    assert(rows("recovered") > rows("torn"), "recovery must surface txn2's rows")
  }
}
