package graft

import graft.llm.{Dedup, Similarity, TextStats}
import org.apache.spark.sql.functions._

/** North-star LLM-pipeline operators: planted-duplicate recall for the
  * sketch-based dedup ops, exact-vs-LSH recall for ANN, tokenizer edges.
  */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("dedup_exact counts normalized duplicates (case/whitespace folded)") {
    // overlay semantics on a tiny frame matching the documents schema
    val docs = Seq(
      (1L, "Hello  World", "en", "s1", 11L),
      (2L, "hello world", "en", "s1", 11L), // normalized dup of 1
      (3L, "different doc", "en", "s1", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet("/tmp/graft_test/documents.parquet")
    val out = Dedup.exact(spark, "/tmp/graft_test").collect().head
    assert(out.getLong(1) == 3L && out.getLong(2) == 2L && out.getLong(3) == 1L)
  }

  test("dedup_spans flags cross-document duplicated 8-token windows") {
    // docs 0 & 1 share one 8-token span inside otherwise-distinct text;
    // doc 2 is disjoint; doc 3 is shorter than the window
    val span = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta $span gamma delta"),
      (1L, s"one two three $span four"),
      (2L, "totally different words with no overlap at all here now"),
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_spans/documents.parquet")
    val out = Dedup.spanDedup(spark, "/tmp/graft_test_spans").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 0: 12 tokens → 5 windows; exactly the full shared window duplicates
    assert(out(0L) == ((5L, 1L, 200000L)), s"doc 0 got ${out(0L)}")
    assert(out(1L)._2 == 1L, s"doc 1 got ${out(1L)}")
    assert(out(2L)._2 == 0L && out(2L)._3 == 0L)
    assert(!out.contains(3L), "sub-window doc must have no span rows")
  }

  test("chunk_cdc re-synchronizes on shared tails despite unequal prefixes") {
    import graft.llm.Curation
    // docs share a 100-token tail behind DIFFERENT-length unique prefixes —
    // fixed-stride windows misalign under the 4-token shift; content-defined
    // boundaries re-sync at the first in-tail boundary, so later chunks are
    // byte-identical and dedupe across the docs
    val tail = (1 to 100).map(i => s"tail$i").mkString(" ")
    val docs = Seq(
      (0L, s"p1 p2 p3 $tail"),
      (1L, s"q1 q2 q3 q4 q5 q6 q7 $tail"),
      (2L, (1 to 60).map(i => s"solo$i").mkString(" ")))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_cdc/documents.parquet")
    val out = Curation.chunkCdc(spark, "/tmp/graft_test_cdc").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L)._1 == 103L && out(1L)._1 == 107L, "token accounting must be exact")
    assert(out(0L)._4 >= 1L && out(1L)._4 >= 1L,
      s"shared tail must dedupe through CDC boundaries: ${out(0L)} / ${out(1L)}")
    assert(out(2L)._4 == 0L, "disjoint doc must have no duplicated chunks")
  }

  test("er_resolve: deletion blocking recovers every planted link; blocking stays sub-quadratic") {
    import graft.llm.EntityResolution
    val out = EntityResolution.erResolve(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nRecords = out("deletion_index_keys") / 9
    // every dirty record is a single deletion of its master → the deletion
    // index is recall-complete and classification keeps exactly the truth
    assert(out("resolved_entities") == nRecords)
    assert(out("resolved_correct") == nRecords, "every resolved link must be the true one")
    // deletion-neighborhood blocks stay near-unique: far below all-pairs
    assert(out("candidates_distinct") < 9 * nRecords,
      s"blocking degenerated: ${out("candidates_distinct")} candidates for $nRecords records")
  }

  test("drift_chi2 is non-negative, partitions every event, and sums its per-type terms") {
    import graft.llm.Governance
    val rows = Governance.driftChi2(spark, sfDir).collect()
    assert(rows.length == 5)
    val total = rows.head.getLong(4)
    assert(rows.forall(_.getLong(4) == total))
    assert(rows.forall(_.getLong(3) >= 0L) && total >= 0L)
    assert(rows.map(_.getLong(3)).sum == total, "type terms must sum to the total")
    val n = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    val exact = Tables.load(spark, sfDir, "events").count()
    assert(n == exact, "epochs must partition the event stream")
  }

  test("drift_ks: statistic replays a driver-side CDF sweep; verdict is self-consistent") {
    import graft.llm.Governance
    val r = Governance.driftKs(spark, sfDir).collect().head
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "value").collect()
      .map(x => (x.getLong(0) % 2, math.floor(x.getDouble(1) * 1000).toLong))
    val a = ev.filter(_._1 == 0L).map(_._2).sorted
    val b = ev.filter(_._1 == 1L).map(_._2).sorted
    assert(r.getAs[Long]("n_a") == a.length && r.getAs[Long]("n_b") == b.length)
    val vs = (a ++ b).distinct.sorted
    val gaps = vs.map(v =>
      v -> math.abs(a.count(_ <= v).toLong * b.length - b.count(_ <= v).toLong * a.length))
    val dMax = gaps.map(_._2).max
    assert(r.getAs[Long]("d_scaled") == dMax)
    assert(r.getAs[Long]("d_at_vm") == gaps.filter(_._2 == dMax).map(_._1).min)
    assert(r.getAs[Long]("ks_ppm") == dMax * 1000000L / (a.length.toLong * b.length))
    assert(r.getAs[Long]("reject_95") ==
      (if (r.getAs[Long]("ks_ppm") > r.getAs[Long]("crit95_ppm")) 1L else 0L))
  }

  test("rr_private_count: flips replay a MessageDigest twin; debias identity holds") {
    import graft.llm.Governance
    val rows = Governance.rrPrivateCount(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def flip(tpe: String, uid: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"rr|$tpe|$uid").take(8), 16) % 4 == 0
    val ev = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val users = ev.map(_._1)
    rows.foreach { r =>
      val tpe = r.getString(0)
      assert(r.getAs[Long]("n_users") == users.size)
      val truth = users.map(u => u -> ev.contains((u, tpe))).toMap
      val reported = users.count(u => truth(u) ^ flip(tpe, u))
      assert(r.getAs[Long]("true_count") == truth.values.count(identity))
      assert(r.getAs[Long]("reported_count") == reported.toLong,
        s"type $tpe: privatized view must replay the salted coin")
      assert(r.getAs[Long]("est_x2") == 4L * reported - users.size)
      assert(r.getAs[Long]("err_x2") ==
        math.abs(r.getAs[Long]("est_x2") - 2L * r.getAs[Long]("true_count")))
    }
  }

  test("model_auc: Mann-Whitney identities hold and AUC is a probability") {
    import graft.llm.Governance
    val r = Governance.modelAuc(spark, sfDir).collect().head
    val (np, nn, u2, auc) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(np > 0 && nn > 0)
    assert(u2 >= 0 && u2 <= 2 * np * nn, "U bounded by the pair count")
    assert(auc >= 0L && auc <= 1000000L)
    // floor-1e6 of u2 / (2 np nn) replays the emitted value
    assert(auc == math.floor(u2.toDouble / (2.0 * np * nn) * 1e6).toLong)
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(np + nn == total, "every document is ranked")
  }

  test("ldiversity_audit: a homogeneous QI group is flagged even when k-anonymous") {
    import graft.llm.Governance
    // segment A, nation 1: 6 members all in the SAME balance band (k-anonymous
    // at k=5 but 1-diverse -> flagged); segment B, nation 2: 6 members across
    // 3 bands (clean)
    val rows = (1 to 6).map(i => (i.toLong, 1L, 100.0, "A")) ++
      (7 to 12).map(i => (i.toLong, 2L, i * 3000.0, "B"))
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet("/tmp/graft_test_ldiv/customer.parquet")
    val out = Governance.lDiversityAudit(spark, "/tmp/graft_test_ldiv").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("A") == ((1L, 1L, 6L, 1L)), s"""got ${out("A")}""")
    val (bGroups, bLow, bRisk, bMin) = out("B")
    assert(bGroups == 1L && bLow == 0L && bRisk == 0L && bMin >= Governance.LDivL,
      s"""got ${out("B")}""")
  }

  test("model_calibration: deciles partition the corpus and rates are probabilities") {
    import graft.llm.Governance
    val rows = Governance.modelCalibration(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= Governance.CalBins)
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total, "bins partition the corpus")
    rows.foreach { r =>
      val (n, np, rate) = (r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("pos_rate_ppm"))
      assert(np >= 0 && np <= n)
      assert(rate == np * 1000000L / n)
      // floor-mean bounded by the bin's score support
      assert(r.getAs[Long]("bin") >= 0 && r.getAs[Long]("bin") < Governance.CalBins)
    }
    // bins arrive in rank order: mean scores must be non-decreasing
    val means = rows.sortBy(_.getAs[Long]("bin")).map(_.getAs[Long]("mean_score"))
    assert(means.zip(means.tail).forall { case (a, b) => a <= b },
      "rank-binned mean scores are monotone")
  }

  test("isotonic_calibration: fit is monotone, bounded, and PAV-equivalent") {
    import graft.llm.Governance
    val rows = Governance.isotonicCalibration(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("bin"))
    assert(rows.length <= Governance.CalBins && rows.nonEmpty)
    val iso = rows.map(_.getAs[Long]("iso_ppm"))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b }, "isotonic fit is monotone")
    assert(iso.forall(v => v >= 0 && v <= 1000000L))
    // PAV reference: pool-adjacent-violators on the same (n, n_pos) bins
    case class Block(var n: Long, var p: Long)
    val st = scala.collection.mutable.Stack[Block]()
    rows.foreach { r =>
      st.push(Block(r.getAs[Long]("n"), r.getAs[Long]("n_pos")))
      while (st.size >= 2 && {
        val top = st(0); val below = st(1)
        top.p * below.n <= below.p * top.n  // top avg <= below avg -> pool
      }) { val t = st.pop(); st(0).n += t.n; st(0).p += t.p }
    }
    val pav = st.toList.reverse.flatMap(b =>
      List.fill(b.n.toInt)(b.p.toDouble / b.n))  // per-ROW fitted rate
    // expand engine fit per row and compare floors
    val engine = rows.flatMap(r =>
      List.fill(r.getAs[Long]("n").toInt)(r.getAs[Long]("iso_ppm")))
    assert(engine.length == pav.length)
    engine.zip(pav).foreach { case (e, p) =>
      assert(e == math.floor(p * 1e6).toLong, "minimax form equals sequential PAV")
    }
  }

  test("zipf_profile: ranks double, frequencies fall, ratios are the emitted quotients") {
    val rows = zipfRows()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tf, tf2x, ppm) = (r.getAs[Long]("tf"), r.getAs[Long]("tf2x"),
        r.getAs[Long]("halving_ppm"))
      assert(tf2x <= tf, "frequency non-increasing in rank")
      assert(ppm == tf2x * 1000000L / tf && ppm <= 1000000L)
    }
    val ranks = rows.map(_.getAs[Long]("rank"))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => b == 2 * a },
      "probe ranks double")
  }
  private def zipfRows() =
    graft.llm.TextStats.zipfProfile(spark, sfDir).collect().sortBy(_.getAs[Long]("rank"))

  test("gini_spend: coefficient in [0,1), top-decile share dominates uniform") {
    val r = graft.analytics.Analytics.giniSpend(spark, sfDir).collect().head
    val g = r.getAs[Long]("gini_ppm")
    assert(g >= 0 && g < 1000000L, s"gini $g must be a [0,1) ppm")
    val share = r.getAs[Long]("top10_share_ppm")
    // top 10% of users hold at least floor(n/10)/n of spend (they are the
    // LARGEST spenders), i.e. at least a uniform share
    val n = r.getAs[Long]("n_users")
    assert(share >= (n / 10) * 1000000L / n || n < 10)
    assert(share <= 1000000L)
  }

  test("fd_audit: violation accounting is internally consistent") {
    import graft.llm.Governance
    val rows = Governance.fdAudit(spark, sfDir).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_violating_keys") <= r.getAs[Long]("n_keys"))
      if (r.getAs[Long]("n_violating_keys") > 0)
        assert(r.getAs[Long]("max_rhs_ndv") > 1, "violations imply a key with ndv>1")
      assert(r.getAs[Long]("rows_in_violations") >= 2 * r.getAs[Long]("n_violating_keys"),
        "each violating key carries at least 2 rows")
    }
  }

  test("text_readability: counts cover every doc and the FK formula replays") {
    import graft.llm.TextStats
    val rows = TextStats.textReadability(spark, sfDir).collect()
    val total = Tables.load(spark, sfDir, "documents")
      .filter(length(trim(col("text"))) > 0).count()
    assert(rows.length == total, "every non-empty doc scored")
    rows.foreach { r =>
      val (w, sn, y) = (r.getAs[Long]("words"), r.getAs[Long]("sents"),
        r.getAs[Long]("sylls"))
      assert(w >= 1 && sn >= 1 && y >= w, "at least one syllable per word")
      val fk = (39.0 / 100) * (w.toDouble / sn) +
        (118.0 / 10) * (y.toDouble / w) - 1559.0 / 100
      assert(r.getAs[Long]("fk_milli") == math.floor(fk * 1000).toLong)
    }
  }

  test("kanon_audit flags quasi-identifier groups below k and their suppressed rows") {
    import graft.llm.Governance
    // segment A: a 2-member QI group (below k=5, flagged) + a 7-member one;
    // segment B: a single 6-member group (clean)
    val rows = (1 to 2).map(i => (i.toLong, 1L, "A")) ++
      (3 to 9).map(i => (i.toLong, 2L, "A")) ++
      (10 to 15).map(i => (i.toLong, 3L, "B"))
    rows.toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").parquet("/tmp/graft_test_kanon/customer.parquet")
    val out = Governance.kAnonAudit(spark, "/tmp/graft_test_kanon").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("A") == ((2L, 1L, 2L, 2L)), s"""got ${out("A")}""")
    assert(out("B") == ((1L, 0L, 0L, 6L)), s"""got ${out("B")}""")
  }

  test("gdpr_erasure physically removes the cohort and preserves everything else") {
    import graft.llm.Governance
    val audit = Governance.gdprErasure(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (n0, u0, sum0, cohort0) = audit(0L)
    val (n1, u1, sum1, cohort1) = audit(1L)
    assert(cohort0 > 0, "erasure cohort must be non-empty at v0")
    assert(cohort1 == 0, "no cohort row may survive at v1")
    assert(n1 == n0 - cohort0, "exactly the cohort rows were removed")
    assert(u1 < u0, "erased users no longer counted")
    // non-erased rows byte-identical: the id fingerprint drops by exactly
    // the erased rows' contribution
    val erasedIdSum = Tables.load(spark, sfDir, "events")
      .where(col("user_id") % Governance.ErasureMod === 0)
      .agg(sum("event_id")).collect()(0).getLong(0)
    assert(sum1 == sum0 - erasedIdSum)
    // the log itself: v1 read contains no cohort user
    val v1 = graft.sources.TableLog.read(spark,
      Governance.erasureLog(spark, sfDir), Some(1L))
    assert(v1.where(col("user_id") % Governance.ErasureMod === 0).count() == 0)
  }

  test("text_prf_search: contiguous per-query rankings, no self-retrieval, deterministic") {
    import graft.llm.TextStats
    val rows = TextStats.prfSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val qids = Tables.load(spark, sfDir, "documents")
      .orderBy("doc_id").limit(TextStats.PrfQueries)
      .select("doc_id").as[Long].collect().toSet
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(qids.contains(q), s"query $q not in the probe set")
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"ranks not contiguous for $q")
      assert(rs.length <= TextStats.PrfK)
      assert(!rs.exists(_._3 == q), "a query must not retrieve itself")
      // ranking consistent with scores (desc, doc asc tiebreak)
      val byRank = rs.sortBy(_._2).map(r => (r._4, r._3)).toSeq
      assert(byRank == byRank.sortBy { case (sc, id) => (-sc, id) },
        s"rank order disagrees with scores for $q")
      assert(rs.forall(_._4 > 0), "scores must be positive")
    }
    // determinism: an immediate re-run returns the identical card
    val again = TextStats.prfSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == rows.toSeq)
  }

  test("retrieval_mrr_eval: metrics bounded, rr consistent with a rank, per-query coverage") {
    import graft.llm.TextStats
    val rows = TextStats.retrievalMrrEval(spark, sfDir).collect()
    assert(rows.length == TextStats.PrfQueries ||
      rows.length <= TextStats.PrfQueries && rows.nonEmpty)
    rows.foreach { r =>
      Seq(1, 3).foreach { i =>
        val rr = r.getLong(i)
        assert(rr == 0L || (rr >= 1000000L / TextStats.PrfK && rr <= 1000000L),
          s"rr out of the 1e6/rank lattice: $rr")
        // rr must be exactly 1e6 div some rank in [1, k]
        if (rr > 0) assert((1 to TextStats.PrfK).exists(k => 1000000L / k == rr))
      }
      Seq(2, 4).foreach { i =>
        val p = r.getLong(i)
        assert(p >= 0L && p <= 1000000L && p % (1000000L / TextStats.PrfK) == 0L,
          s"precision not on the 1/k grid: $p")
      }
    }
  }

  test("emb_centroid_drift: distance dominated by the worst dim x Dim, counts partition") {
    import graft.llm.Similarity
    val r = Similarity.embCentroidDrift(spark, sfDir).collect().head
    val (na, nb, d2, worst, worstE12, shifted) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(na > 0 && nb > 0)
    val dim = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("size(embedding) AS d").distinct().collect().head.getInt(0)
    assert(worst >= 0 && worst < dim)
    assert(d2 >= worstE12, "total distance cannot be below its worst component")
    assert(d2 <= worstE12 * dim, "total cannot exceed Dim x the worst component")
    assert(shifted >= 0 && shifted <= dim)
  }

  test("heaps_law_probe: nested prefixes grow monotonically in docs, tokens and vocab") {
    import graft.llm.TextStats
    val rows = TextStats.heapsLawProbe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    rows.toSeq.sliding(2).foreach {
      case scala.collection.Seq(a, b) =>
        assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4,
          s"prefixes nest, so every count must be monotone: $a -> $b")
      case _ =>
    }
    // growth ratio of a nested prefix can never fall below 1e6
    rows.flatMap(_._5).foreach(g => assert(g >= 1000000L, s"vocab shrank: $g"))
  }

  test("token_budget_plan: budget binds at the minimum source and identities hold") {
    import graft.llm.Curation
    val rows = Curation.tokenBudgetPlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val t = rows.head._5
    assert(rows.forall(_._5 == t), "one shared budget")
    assert(rows.map(_._3).min == t, "budget IS the minimum kept-token source")
    rows.foreach { case (src, raw, kept, away, _, surplus, util) =>
      assert(raw - kept == away && kept - t == surplus, s"$src identities")
      assert(kept <= raw && surplus >= 0)
      assert(util == t * 1000000L / kept && util <= 1000000L)
    }
    assert(rows.exists(_._7 == 1000000L), "the binding source runs at full utilization")
  }

  test("corpus_admission: ladder partitions every doc and admit_ppm is exact") {
    import graft.llm.Curation
    val rows = Curation.corpusAdmission(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var total = 0L
    rows.foreach { r =>
      val (n, adm, ts, ld, bc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(adm + ts + ld + bc == n, "verdicts must partition the docs")
      assert(r.getLong(6) == adm * 1000000L / n)
      total += n
    }
    assert(total == Tables.load(spark, sfDir, "documents").count(),
      "every document appears in exactly one source row")
  }

  test("dataset_card: internal identities hold and counts match the raw corpus") {
    import graft.llm.Curation
    val card = Curation.datasetCard(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables.load(spark, sfDir, "documents")
    assert(card("n_docs") == docs.count())
    assert(card("n_sources") == docs.select("source").distinct().count())
    assert(card("dup_ppm") == card("n_exact_dup_docs") * 1000000L / card("n_docs"))
    assert(card("mean_tokens_per_doc") == card("n_tokens_total") / card("n_docs"))
    assert(card("median_tokens_per_doc") > 0 &&
      card("n_short_docs") <= card("n_docs"))
    assert(card("top_source_share_ppm") >= 1000000L / card("n_sources"),
      "top source must carry at least the uniform share")
  }

  test("scd2_interval_audit: pair classes partition and magnitudes match a recompute") {
    import graft.llm.Governance
    val rows = Governance.scd2IntervalAudit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ov, gp, sm) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ov + gp + sm == n, "overlap/gap/seamless must partition the pairs")
      assert(r.getLong(5) >= ov && r.getLong(6) >= gp,
        "each flagged pair contributes at least one day")
    }
    // independent recompute of the global totals
    val iv = Tables.load(spark, sfDir, "orders")
      .selectExpr("o_custkey",
        "CAST(datediff(to_date(o_orderdate), '1970-01-01') AS LONG) AS vf",
        "o_orderkey")
      .selectExpr("o_custkey", "vf", "o_orderkey", "vf + o_orderkey % 120 AS vt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = iv.groupBy(_._1).values.flatMap { os =>
      os.toSeq.sortBy(o => (o._2, o._3)).sliding(2).collect {
        case scala.collection.Seq(a, b) => a._4 - b._2
      }
    }.toSeq
    assert(rows.map(_.getLong(2)).sum == want.count(_ > 0))
    assert(rows.map(_.getLong(3)).sum == want.count(_ < 0))
    assert(rows.map(_.getLong(5)).sum == want.filter(_ > 0).sum)
  }

  test("gdpr_sar_export inventories exactly the cohort and its checksum detects tampering") {
    import graft.llm.Governance
    val rows = Governance.gdprSarExport(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == Set("events", "orders", "customer"))
    // completeness: counts match independent recomputes of the cohort
    val ev = Tables.load(spark, sfDir, "events")
      .where(col("user_id") % Governance.SarMod === 0)
    assert(rows("events")._2 == ev.count())
    assert(rows("events")._1 ==
      ev.select("user_id").distinct().count())
    val cu = Tables.load(spark, sfDir, "customer")
      .where(col("c_custkey") % Governance.SarMod === 0)
    assert(rows("customer")._1 == rows("customer")._2 && rows("customer")._2 == cu.count(),
      "customer dim: one row per subject")
    // tamper evidence: dropping ONE cohort row must change the checksum pair
    // (recompute the customer leg minus its smallest key)
    val minKey = cu.agg(org.apache.spark.sql.functions.min("c_custkey"))
      .collect()(0).getLong(0)
    val h = md5(concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey")).cast("binary"))
    val tampered = cu.where(col("c_custkey") =!= minKey)
      .agg(
        sum(conv(substring(h, 1, 8), 16, 10).cast("long")).as("h1"),
        sum(conv(substring(h, 9, 8), 16, 10).cast("long")).as("h2"))
      .collect()(0)
    assert((tampered.getLong(0), tampered.getLong(1)) != ((rows("customer")._3, rows("customer")._4)),
      "a dropped row must flip the manifest checksum")
  }

  test("dedup_minhash finds the planted near-dup pairs exact jaccard finds") {
    val exactPairs = Dedup.jaccard(spark, sfDir)
      .where(col("j_e6") >= 800000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lshPairs = Dedup.minhash(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exactPairs.nonEmpty, "testdata should contain planted near-dups")
    assert(lshPairs == exactPairs) // b=8,r=4 ⇒ full recall at J≥0.9 dups
  }

  test("dedup_editdist: fuzzy dupes never exceed blocked pairs; distances sane") {
    val rows = Dedup.editDistance(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_fuzzy_dupes") <= r.getAs[Long]("n_pairs_blocked"))
      val minFuzzy = r.getAs[Long]("min_fuzzy_dist")
      if (r.getAs[Long]("n_fuzzy_dupes") > 0)
        assert(minFuzzy >= 0L && minFuzzy <= Dedup.EditMaxDist)
      else
        assert(minFuzzy == -1L)
    }
  }

  test("dedup_simhash: identical docs collide at hamming 0; near-dups ≤ 3") {
    val pairs = Dedup.simhash(spark, sfDir).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getInt(2) <= 3))
  }

  test("dedup_components labels every paired doc with its cluster minimum") {
    import org.apache.spark.sql.Row
    // planted graph: chain a-b-c (transitive closure) + isolated pair d-e
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s1", 35L),
      (2L, "alpha beta gamma delta epsilon eta", "en", "s1", 34L),  // ~ doc 1
      (3L, "beta gamma delta epsilon eta theta", "en", "s1", 34L),  // ~ doc 2
      (10L, "one two three four five six seven", "en", "s1", 33L),
      (11L, "one two three four five six eight", "en", "s1", 33L), // ~ doc 10
      (20L, "completely unrelated content here now", "en", "s1", 37L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_cc/documents.parquet")
    val labels = graft.llm.Dedup.components(spark, "/tmp/graft_test_cc")
      .collect().map { case Row(d: Long, c: Long) => d -> c }.toMap
    // chain 1-2, 2-3 must transitively share canon 1 even if (1,3) is no pair
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(!labels.contains(20L)) // isolated docs have no cluster row
  }

  test("distributed propagation and driver union-find agree on the planted graph") {
    // test-sized graphs always take the union-find fast path inside
    // components(); drive the pointer-jumping rounds directly on the same
    // pair relation and require identical labels
    val pairs = Dedup.jaccard(spark, "/tmp/graft_test_cc")
      .select($"doc_a", $"doc_b")
    val dist = graft.llm.Dedup.propagateDistributed(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uf = graft.llm.Dedup.components(spark, "/tmp/graft_test_cc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == uf)
  }

  test("dedup_keep_best keeps the longest member per cluster, min doc_id on ties") {
    val rows = Dedup.keepBest(spark, "/tmp/graft_test_cc")
      .collect().map(r => r.getLong(0) -> r).toMap
    // chain {1,2,3}: doc 1 is longest (35 chars)
    assert(rows(1L).getAs[Long]("rep_doc") == 1L)
    assert(rows(1L).getAs[Long]("n_docs") == 3L && rows(1L).getAs[Long]("n_removed") == 2L)
    assert(rows(1L).getAs[Long]("total_chars") == 35L + 34L + 34L)
    // pair {10,11}: equal length 33 → tie-break min doc_id
    assert(rows(10L).getAs[Long]("rep_doc") == 10L)
    // isolated doc 20 is its own singleton cluster, nothing removed
    assert(rows(20L).getAs[Long]("n_docs") == 1L && rows(20L).getAs[Long]("n_removed") == 0L)
    assert(rows(20L).getAs[Long]("rep_doc") == 20L)
  }

  test("dedup_split_audit: cluster-aware split never leaks a cluster across sides") {
    val rows = Dedup.splitAudit(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("naive", "cluster_aware"))
    assert(rows("cluster_aware").getAs[Long]("n_leaky_clusters") == 0L)
    // both schemes assign every document exactly once
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_eval") == nDocs)
    }
  }

  test("contrastive negatives: k per pair, never from the anchor's cluster, deterministic") {
    val rows = Dedup.contrastiveNegatives(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val labels = Dedup.components(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perPair = rows.groupBy(r => (r.getLong(0), r.getLong(1)))
    perPair.foreach { case ((anchor, pos), ns) =>
      assert(ns.length == 2, s"pair ($anchor,$pos) got ${ns.length} negatives")
      ns.foreach { r =>
        val neg = r.getLong(2)
        assert(neg != anchor && neg != pos)
        assert(labels.getOrElse(neg, neg) != labels.getOrElse(anchor, anchor))
      }
    }
    // pure function of the corpus: a second run emits identical rows
    val again = Dedup.contrastiveNegatives(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("hard negatives: top-dot outside the cluster, ranks ordered, deterministic") {
    val rows = Dedup.contrastiveHardNegatives(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val labels = Dedup.components(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case ((anchor, pos), ns) =>
      // ranks are 1..k with non-increasing dot (rank 1 IS the hardest)
      val byRank = ns.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).sameElements(1 to byRank.length))
      assert(byRank.map(_.getLong(4)).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1)), "dots must be rank-ordered")
      byRank.foreach { r =>
        val neg = r.getLong(2)
        assert(neg != anchor && neg != pos)
        assert(labels.getOrElse(neg, neg) != labels.getOrElse(anchor, anchor),
          s"negative $neg shares anchor $anchor's cluster")
      }
    }
    val again = Dedup.contrastiveHardNegatives(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("text_bm25_top ranks at most TopTerms per doc, rare terms above common") {
    val out = TextStats.bm25Top(spark, sfDir).collect()
    assert(out.nonEmpty)
    val perDoc = out.groupBy(_.getLong(0))
    assert(perDoc.values.forall(rs => rs.length <= TextStats.TopTerms))
    assert(perDoc.values.forall(rs => rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length)))
    assert(out.forall(_.getLong(3) >= 0L))
  }

  test("rake_keyphrases: stopword-free multiword phrases, score-descending") {
    val out = TextStats.rakeKeyphrases(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= TextStats.RakeTopK)
    val scores = out.map(_.getLong(1))
    assert(scores.sameElements(scores.sortBy(-_: Long)), "rows arrive score-descending")
    out.foreach { r =>
      val words = r.getString(0).split(" ")
      assert(words.length >= 2, "single words excluded")
      assert(words.forall(w => !TextStats.stopwords.contains(w)),
        "phrases must be stopword-free runs")
      assert(r.getLong(2) >= 1L)
    }
  }

  test("synth bootstrap: marginals exact, sums near-real, draws near 1 - 1/e distinct") {
    import graft.llm.Curation
    val out = Curation.synthBootstrapAudit(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nr, ns) = (r.getLong(1), r.getLong(2))
      assert(ns == nr, "stratum marginal preserved exactly")
      val (cr, cs) = (r.getLong(3), r.getLong(4))
      assert(math.abs(cs - cr).toDouble / cr < 0.1, s"bootstrap sum drift: $cs vs $cr")
      val frac = r.getLong(5).toDouble / nr
      assert(frac > 0.55 && frac < 0.72, s"distinct-draw fraction $frac far from 1-1/e")
    }
  }

  test("dedup_containment: containment >= jaccard always; catches subset inclusion") {
    val out = Dedup.containmentDedup(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (shared, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(shared <= math.min(na, nb), "intersection bounded by the smaller set")
      assert(r.getLong(5) >= r.getLong(6), "containment dominates jaccard")
      assert(r.getLong(5) >= 800000L, "threshold applied on the containment axis")
    }
  }

  test("vocab_topk returns the highest-frequency tokens with a total order") {
    val out = TextStats.vocabTopK(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= TextStats.VocabSize)
    val tfs = out.map(_.getLong(1))
    assert(tfs.sameElements(tfs.sortBy(-_: Long)), "rows arrive tf-descending")
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)), "df <= tf")
  }

  test("bpe_train learns BpeRounds merges; each merge shrinks the corpus by exactly its count") {
    val out = TextStats.bpeTrain(spark, sfDir).collect().sortBy(_.getLong(0))
    assert(out.length == TextStats.BpeRounds)
    assert(out.map(_.getLong(0)).sameElements(1L to TextStats.BpeRounds.toLong))
    val pairs = out.map(_.getString(1))
    assert(pairs.distinct.length == pairs.length, "a pair is never re-learned")
    assert(pairs.forall(p => p.split(" ").length == 2), "merge keys are 'x y'")
    out.foreach(r => assert(r.getLong(2) > 0))
    // merging pair p with weighted count c removes exactly c symbols
    out.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(3) == a.getLong(3) - b.getLong(2))
      case _           =>
    }
  }

  test("bpe_encode replays the trained merges: corpus symbol totals match training") {
    val enc = TextStats.bpeEncode(spark, sfDir).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      assert(r.getLong(1) > 0, "every encoded doc has alphabetic words")
      assert(r.getLong(2) >= r.getLong(1), "a word is at least one BPE symbol")
    }
    // the per-doc encoded symbol counts must sum to the trained run's final
    // corpus symbol count (same merges, same vocab, different aggregation)
    val trainFinal = TextStats.bpeTrain(spark, sfDir).collect()
      .maxBy(_.getLong(0)).getLong(3)
    assert(enc.map(_.getLong(2)).sum == trainFinal)
  }

  test("approx quantile sketch lands within 1% of the exact quantiles") {
    val approx = graft.analytics.Relational.approxQuantilesRaw(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val exact = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    approx.foreach { case (k, qs) =>
      qs.zip(exact(k)).foreach { case (a, e) =>
        assert(math.abs(a - e) <= 0.01 * math.abs(e) + 1e-9, s"$k: approx $a vs exact $e")
      }
    }
  }

  test("text_collocations: lift is positive and pairs meet the min count") {
    val rows = TextStats.collocations(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= TextStats.CollocTopK)
    rows.foreach { r =>
      assert(r.getLong(1) >= TextStats.CollocMinCount)
      assert(r.getDouble(2) > 0.0)
      assert(r.getString(0).split(" ").length == 2)
    }
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sortBy(-_: Long)), "rows arrive count-descending")
  }

  test("ann brute-force top-k is exact and self-excluding") {
    val out = Similarity.bruteForceTopK(spark, sfDir)
    val rows = out.collect()
    assert(rows.length == Similarity.NumQueries * Similarity.TopK)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    // scores are valid floor(cos·1e6)-integerized cosines
    assert(rows.forall(r => math.abs(r.getLong(2)) <= 1000001L))
  }

  test("ann hamming top-k: distances match a driver-side sign-sketch recomputation") {
    val out = Similarity.annHammingTopK(spark, sfDir).collect()
    assert(out.length == Similarity.NumQueries * Similarity.TopK)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    assert(out.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 64))
    // driver-side twin: sign-bit sketches from the raw floats
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sketch(v: Array[Float]): Long =
      v.zipWithIndex.foldLeft(0L) { case (acc, (x, i)) =>
        if (x > 0f) acc | (1L << i) else acc
      }
    val sk = vecs.view.mapValues(sketch).toMap
    out.foreach { r =>
      val expect = java.lang.Long.bitCount(sk(r.getLong(0)) ^ sk(r.getLong(1)))
      assert(r.getLong(2) == expect.toLong,
        s"query ${r.getLong(0)} neighbor ${r.getLong(1)}")
    }
    // per-query ranks are 1..TopK with non-decreasing distance
    out.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).sameElements(1 to Similarity.TopK))
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a.getLong(2) <= b.getLong(2)
        case _           => true
      })
    }
  }

  test("curriculum order: positions are a permutation and buckets serve easy-to-hard") {
    import graft.llm.Curation
    val rows = Curation.curriculumOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Tables.load(spark, sfDir, "documents").count()
    assert(rows.length == n)
    assert(rows.map(_._3).sorted.sameElements(1L to n), "positions are 1..N exactly once")
    // curriculum law: the difficulty bucket is non-decreasing along the order
    val byPos = rows.sortBy(_._3)
    assert(byPos.sliding(2).forall {
      case Array(a, b) => a._2 <= b._2
      case _           => true
    })
  }

  test("matryoshka truncation eval: overlap equals a direct intersection of the two retrievals") {
    val rows = Similarity.annDimTruncEval(spark, sfDir).collect()
    assert(rows.length == Similarity.NumQueries)
    val full = Similarity.bruteForceTopK(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= Similarity.TopK)
      assert(r.getAs[Long]("recall_ppm") == hits * 1000000L / Similarity.TopK)
      // the full-dim side of the intersection IS bruteForceTopK's set
      assert(full(qid).contains(r.getAs[Long]("top1_full")))
    }
  }

  test("ann recall eval agrees with a direct set intersection of the two retrievals") {
    val rows = Similarity.annRecallEval(spark, sfDir).collect()
    assert(rows.length == Similarity.NumQueries)
    val exact = Similarity.bruteForceTopK(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.lshTopK(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val hits = (exact(qid) intersect lsh.getOrElse(qid, Set.empty)).size
      assert(r.getAs[Long]("n_hits") == hits)
      assert(r.getAs[Long]("recall_ppm") == hits * 1000000L / Similarity.TopK)
      val nnRank = r.getAs[Long]("nn_rank")
      assert(nnRank >= 0 && nnRank <= Similarity.TopK)
      assert(r.getAs[Long]("rr_ppm") ==
        (if (nnRank > 0) 1000000L / nnRank else 0L))
    }
  }

  test("knn outlier audit: sampled ids only, isolation-ascending, valid scores") {
    val rows = Similarity.embKnnOutliers(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= Similarity.OutlierK)
    assert(rows.forall(_.getAs[Long]("vec_id") % Similarity.SampleMod == 0))
    val scores = rows.map(_.getAs[Long]("knn_cos_e6"))
    assert(scores.sameElements(scores.sorted), "most isolated first")
    assert(scores.forall(s => math.abs(s) <= 1000001L))
  }

  test("ann LSH top-k recall ≥ 0.9 on planted clusters") {
    // 3 clusters of 20 near-identical vectors + 40 noise vectors
    val dim = 64
    def base(seed: Int) = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    def jitter(v: Array[Float], k: Int) =
      v.zipWithIndex.map { case (x, d) => x + 0.01f * math.sin(k * 7 + d).toFloat }
    val clustered = for {c <- 0 until 3; k <- 0 until 20}
      yield ((c * 20 + k).toLong, jitter(base(c + 1), k), c)
    val noise = for (k <- 0 until 40)
      yield ((60 + k).toLong, base(100 + k), 9)
    (clustered ++ noise).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_ann/embeddings.parquet")

    val exact = Similarity.bruteForceTopK(spark, "/tmp/graft_test_ann")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(spark, "/tmp/graft_test_ann")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall on clustered data")
  }

  test("ann IVF top-k recall ≥ 0.9 on planted clusters") {
    // reuses the clustered fixture shape from the LSH test
    val dim = 64
    def base(seed: Int) = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    def jitter(v: Array[Float], k: Int) =
      v.zipWithIndex.map { case (x, d) => x + 0.01f * math.sin(k * 7 + d).toFloat }
    val clustered = for {c <- 0 until 3; k <- 0 until 20}
      yield ((c * 20 + k).toLong, jitter(base(c + 1), k), c)
    val noise = for (k <- 0 until 40)
      yield ((60 + k).toLong, base(100 + k), 9)
    (clustered ++ noise).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_ivf/embeddings.parquet")

    val exact = Similarity.bruteForceTopK(spark, "/tmp/graft_test_ivf")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, "/tmp/graft_test_ivf")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall on clustered data")
  }

  test("PQ/ADC retrieval keeps planted-cluster neighbors on top; codes cover every vector") {
    // 3 interleaved clusters (cluster = id % 3, ids 0..59) + 40 noise — the
    // interleave puts all 3 clusters among the first-8 codebook seeds
    val dim = 64
    def base(seed: Int) = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    def jitter(v: Array[Float], k: Int) =
      v.zipWithIndex.map { case (x, d) => x + 0.01f * math.sin(k * 7 + d).toFloat }
    val clustered = (0 until 60).map(id => (id.toLong, jitter(base(id % 3 + 1), id / 3), id % 3))
    val noise = (0 until 40).map(k => ((60 + k).toLong, base(100 + k), 9))
    (clustered ++ noise).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_pq/embeddings.parquet")

    val top = Similarity.annPqTopK(spark, "/tmp/graft_test_pq")
      .select("q_id", "vec_id").as[(Long, Long)].collect()
    assert(top.nonEmpty)
    // queries are ids 0..4 (clusters 0,1,2,0,1): every retrieved neighbor
    // must come from the query's own 20-member cluster
    top.foreach { case (q, n) =>
      assert(n < 60 && n % 3 == q % 3,
        s"query $q (cluster ${q % 3}) retrieved $n (cluster ${if (n < 60) n % 3 else 9})")
    }
    // training audit: every vector coded in every subspace, inertia finite
    val train = Similarity.pqTrain(spark, "/tmp/graft_test_pq").collect()
    val perM = train.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(perM.toMap.values.forall(_ == 100L), s"codes must cover all vectors per subspace: $perM")
    assert(train.forall(_.getLong(3) >= 0L))
  }

  test("embedding-cosine dedup finds planted near-identical vectors") {
    val dim = 64
    def base(seed: Int) = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    def tweak(v: Array[Float], k: Int) = // cos ≥ 0.999 vs base
      v.zipWithIndex.map { case (x, d) => x + 0.001f * math.sin(k * 7 + d).toFloat }
    // label 0: 5 near-identical copies (C(5,2)=10 dup pairs); labels 1-3: singles
    val dups    = (0 until 5).map(k => (k.toLong, tweak(base(1), k), 0))
    val singles = (0 until 3).map(k => ((10 + k).toLong, base(50 + k), 1 + k))
    (dups ++ singles).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_embcos/embeddings.parquet")

    val out = Similarity.embCosDedup(spark, "/tmp/graft_test_embcos")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out.size == 4) // one row per label, even dup-free ones
    assert(out(0).getLong(3) == 10L, s"expected 10 dup pairs, got ${out(0).getLong(3)}")
    assert((1 to 3).forall(l => out(l).getLong(3) == 0L))
    // sanity: the real corpus has no dups above threshold but must still emit rows
    val real = Similarity.embCosDedup(spark, sfDir).collect()
    assert(real.nonEmpty && real.forall(_.getLong(3) == 0L))
  }

  test("tokenizer drops empties; token stats consistent with manual counts") {
    val toks = Seq((1L, "  a  b\tc ", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .select(TextStats.tokensCol.as("t")).as[Seq[String]].head()
    assert(toks == Seq("a", "b", "c"))
  }

  test("rolling-hash fingerprint matches the polynomial definition") {
    Seq((1L, "abc", "en", "s", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_fp/documents.parquet")
    val fp = TextStats.fingerprint(spark, "/tmp/graft_test_fp").collect().head
    // ((0*131+97)*131+98)*131+99 mod 1e9+7
    assert(fp.getLong(1) == ((97L * 131 + 98) * 131 + 99) % 1000000007)
    assert(fp.getString(2) == "900150983cd24fb0d6963f7d28e17f72") // md5("abc")
  }

  test("quality score stays in [0,1] over the real corpus") {
    val q = TextStats.qualityScore(spark, sfDir).select("quality_e6").as[Long].collect()
    assert(q.forall(v => v >= 0L && v <= 1000000L))
  }

  test("hll approx distinct within 5% of exact") {
    import graft.analytics.Relational
    val approx = Relational.hllApproxDistinct(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderstatus").agg(countDistinct("o_custkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n <= 0.05, s"$k: ${approx(k)} vs $n")
    }
  }

  test("source_signature_terms: lift identity replays and ranks are per-source contiguous") {
    import org.apache.spark.sql.functions.{col, explode}
    val rows = graft.llm.TextStats.sourceSignatureTerms(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(4)).sorted.sameElements(1L to rs.length))
      // ranked by lift desc (ties by token asc)
      val sorted = rs.sortBy(_.getLong(4))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) >= b.getLong(3))
        case _ =>
      }
    }
    // recompute one row's lift from raw counts
    val st = Tables.load(spark, sfDir, "documents")
      .select(col("source"), explode(graft.llm.TextStats.tokensCol).as("token"))
      .groupBy("source", "token").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totC = st.values.sum
    val r = rows.head
    val tf = st((r.getString(0), r.getString(1)))
    assert(tf == r.getLong(2) && tf >= graft.llm.TextStats.SigMinTf)
    val tokS = st.filter(_._1._1 == r.getString(0)).values.sum
    val tfC = st.filter(_._1._2 == r.getString(1)).values.sum
    assert(r.getLong(3) == tf * totC * 1000000L / (tokS * tfC))
  }

  test("model_roc: curve monotone, endpoints complete, confusion rows close the margins") {
    val rows = graft.llm.Governance.modelRoc(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nPos = rows.head.getAs[Long]("tp") + rows.head.getAs[Long]("fn")
    val nNeg = rows.head.getAs[Long]("fp") + rows.head.getAs[Long]("tn")
    rows.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") == nPos, "positive margin fixed")
      assert(r.getAs[Long]("fp") + r.getAs[Long]("tn") == nNeg, "negative margin fixed")
      assert(r.getAs[Long]("tpr_ppm") == r.getAs[Long]("tp") * 1000000L / nPos)
      assert(r.getAs[Long]("fpr_ppm") == r.getAs[Long]("fp") * 1000000L / nNeg)
    }
    // descending threshold order ⇒ tp and fp are non-decreasing (the curve
    // walks from (0,0)-ish toward (1,1))
    val ordered = rows.sortBy(-_.getAs[Long]("threshold"))
    ordered.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("tp") <= b.getAs[Long]("tp"))
        assert(a.getAs[Long]("fp") <= b.getAs[Long]("fp"))
      case _ =>
    }
    // the loosest threshold predicts everything positive
    assert(ordered.last.getAs[Long]("tp") == nPos && ordered.last.getAs[Long]("fp") == nNeg)
  }

  test("split_balance_audit: SMD replays in-memory and the hash split is balanced") {
    val out = graft.llm.Curation.splitBalanceAudit(spark, sfDir).collect()
    assert(out.length == 4, "2 features x 2 held-out splits")
    out.foreach { r =>
      assert(Set("val", "test")(r.getString(1)))
      assert(r.getAs[Long]("n_a") > r.getAs[Long]("n_b"), "train is the big split")
      val smd = r.getAs[Long]("smd_milli")
      // a salted-hash split has no systematic covariate drift: |SMD| << 0.5
      assert(math.abs(smd) < 500L, s"${r.getString(0)}/${r.getString(1)}: SMD $smd milli")
      assert(r.getAs[Double]("mean_a") > 0 && r.getAs[Double]("mean_b") > 0)
    }
  }

  test("emb_dim_diagnostics: variances replay exactly and participation is in [1, Dim]") {
    val rows = graft.llm.Similarity.embDimDiagnostics(spark, sfDir).collect()
    assert(rows.length == graft.llm.Similarity.Dim)
    val qs = Tables.load(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(f => math.floor(f.toDouble * 1000).toLong))
    rows.foreach { r =>
      val d = r.getLong(0).toInt
      val xs = qs.map(_(d))
      val n = xs.length.toLong
      val expectVar = (n * xs.map(x => x * x).sum - xs.sum * xs.sum) / (n * n)
      assert(r.getAs[Long]("var_fp") == expectVar, s"dim $d variance")
    }
    val pr = rows.head.getAs[Long]("participation_milli")
    assert(pr >= 1000L && pr <= 1000L * graft.llm.Similarity.Dim,
      s"participation ratio $pr milli outside [1, Dim]")
  }

  test("label_noise_audit: cross-label only, suspicion-ordered, rerun-deterministic") {
    val rows = graft.llm.Similarity.labelNoiseAudit(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= graft.llm.Similarity.NoiseK)
    assert(rows.map(_.getLong(5)).sorted.sameElements(1L to rows.length))
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "canonical pair order")
      assert(r.getLong(2) != r.getLong(3), "suspects must disagree on label")
    }
    val byRank = rows.sortBy(_.getLong(5)).map(_.getLong(4))
    assert(byRank.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "suspicion ranking must be cosine-descending")
    val again = graft.llm.Similarity.labelNoiseAudit(spark, sfDir).collect()
      .sortBy(_.getLong(5)).map(r => (r.getLong(0), r.getLong(1)))
    assert(again.sameElements(rows.sortBy(_.getLong(5)).map(r => (r.getLong(0), r.getLong(1)))))
  }

  test("emb_pca_power: unit-scale fixed-point vector, PSD alignment, deterministic rerun") {
    import org.apache.spark.sql.functions.{col, floor => sfloor}
    val rows = graft.llm.Similarity.embPcaPower(spark, sfDir).collect()
    assert(rows.length == graft.llm.Similarity.Dim)
    assert(rows.map(_.getLong(0)).sorted.sameElements(0L until graft.llm.Similarity.Dim.toLong))
    val v = rows.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(v.map(math.abs).max == graft.llm.Similarity.PcaScale,
      "normalization pins the max-abs component to the fixed-point scale")
    assert(rows.head.getLong(2) > 0, "PSD matrix keeps the iteration scale positive")
    // PSD alignment: w = C v must point in v's half-space (Rayleigh >= 0),
    // recomputed from the raw embeddings in-memory
    val dim = graft.llm.Similarity.Dim
    val qs = Tables.load(spark, sfDir, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(f => math.floor(f.toDouble * 1000).toLong))
    val c = Array.ofDim[Long](dim, dim)
    qs.foreach { q =>
      var i = 0
      while (i < dim) { var j = 0; while (j < dim) { c(i)(j) += q(i) * q(j); j += 1 }; i += 1 }
    }
    val w = (0 until dim).map(i => (0 until dim).map(j => c(i)(j).toDouble * v(j)).sum)
    val dot = (0 until dim).map(i => w(i) * v(i)).sum
    val cos = dot / math.sqrt(w.map(x => x * x).sum) / math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(cos > 0.9, s"iterated vector should be near-fixed under C (cos=$cos)")
    val again = graft.llm.Similarity.embPcaPower(spark, sfDir).collect()
      .sortBy(_.getLong(0)).map(_.getLong(1))
    assert(again.sameElements(v), "rerun-deterministic")
  }

  test("incremental minhash index: build+append state equals one-shot build; serve laws hold") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sfDir, "documents")
    val tmp = "/tmp/graft_test_mhidx"
    Scratch.wipe(tmp)
    // one-shot build over the full corpus
    graft.llm.Dedup.writeMinhashIndex(docs, tmp + "/all", append = false)
    // staged build: corpus first, batch appended blind
    graft.llm.Dedup.writeMinhashIndex(
      docs.where(col("doc_id") % graft.llm.Dedup.IncBatchMod =!= 0), tmp + "/staged", append = false)
    graft.llm.Dedup.writeMinhashIndex(
      docs.where(col("doc_id") % graft.llm.Dedup.IncBatchMod === 0), tmp + "/staged", append = true)
    def bucketSet(p: String) = spark.read.parquet(p + "/buckets")
      .select("bh", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketSet(tmp + "/all") == bucketSet(tmp + "/staged"),
      "blind append must reproduce the one-shot index state")
    val bands = new java.io.File(tmp + "/staged/buckets").listFiles
      .filter(_.getName.startsWith("band=")).map(_.getName)
    assert(bands.length == graft.llm.Dedup.Bands, "one partition directory per band")
    // serve laws: every pair touches the batch, is canonical, and clears 0.8
    val rows = graft.llm.Dedup.incrementalDedup(spark, sfDir).collect()
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "canonical pair order")
      assert(a % graft.llm.Dedup.IncBatchMod == 0 || b % graft.llm.Dedup.IncBatchMod == 0,
        "every emitted pair must involve the new batch")
      assert(r.getLong(2) >= 800000L, "verified Jaccard clears the threshold")
    }
  }

  test("erasure propagates into the persisted index via the change feed; serve equals rebuild") {
    import graft.sources.TableLog
    val root = java.nio.file.Files.createTempDirectory("mh_erase").toString
    val (tdir, idx, cur) = (s"$root/docs", s"$root/idx", s"$root/cursor")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    TableLog.commitAppend(docs, tdir) // v0: the governed corpus table
    Dedup.writeMinhashIndex(
      TableLog.read(spark, tdir).select("doc_id", "text"), idx, append = false)
    // catch the cursor up past the snapshot the index already covers
    assert(Dedup.propagateErasures(spark, tdir, idx, cur).contains((-1L, 0L)))
    val before = Dedup.indexPairs(spark, idx, lit(true)).collect()
    assert(before.nonEmpty, "need at least one served near-dup pair at this scale")
    val victim = before.map(_.getLong(0)).min
    // the GDPR moment: erase the doc from the governed table...
    TableLog.deleteWhere(spark, tdir, s"doc_id = $victim")
    // ...and let the feed carry it into the serving index — no rebuild
    assert(Dedup.propagateErasures(spark, tdir, idx, cur).contains((0L, 1L)))
    val after = Dedup.indexPairs(spark, idx, lit(true)).collect()
    assert(!after.exists(r => r.getLong(0) == victim || r.getLong(1) == victim),
      "an erased doc must never be served from the index again")
    // tombstone merge-on-read == a from-scratch rebuild on the live snapshot
    Dedup.writeMinhashIndex(
      TableLog.read(spark, tdir).select("doc_id", "text"), s"$root/rebuild", append = false)
    val rebuilt = Dedup.indexPairs(spark, s"$root/rebuild", lit(true)).collect()
    assert(after.map(_.toString).sorted.toSeq == rebuilt.map(_.toString).sorted.toSeq,
      "served pairs through tombstones must equal the rebuilt index exactly")
    // at-least-once is exactly-once in effect: a lost cursor redelivers the
    // whole history and the duplicate tombstones change nothing
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(cur))
    Dedup.propagateErasures(spark, tdir, idx, cur)
    val again = Dedup.indexPairs(spark, idx, lit(true)).collect()
    assert(again.map(_.toString).sorted.toSeq == rebuilt.map(_.toString).sorted.toSeq)
  }

  test("erasure propagation nets compaction churn and a re-insert resurrects") {
    import graft.sources.TableLog
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("mh_churn").toString
    val (tdir, idx, cur) = (s"$root/docs", s"$root/idx", s"$root/cursor")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    TableLog.commitAppend(docs, tdir) // v0
    Dedup.writeMinhashIndex(
      TableLog.read(spark, tdir).select("doc_id", "text"), idx, append = false)
    assert(Dedup.propagateErasures(spark, tdir, idx, cur).contains((-1L, 0L)))
    val before = Dedup.indexPairs(spark, idx, lit(true)).collect()
      .map(_.toString).sorted.toSeq
    assert(before.nonEmpty)
    val victim = Dedup.indexPairs(spark, idx, lit(true)).collect().map(_.getLong(0)).min
    val victimRow = docs.where(col("doc_id") === victim).cache()
    assert(victimRow.count() == 1)
    TableLog.deleteWhere(spark, tdir, s"doc_id = $victim") // v1
    assert(Dedup.propagateErasures(spark, tdir, idx, cur).contains((0L, 1L)))
    val erasedRows = Dedup.indexPairs(spark, idx, lit(true)).collect()
    assert(!erasedRows.exists(r => r.getLong(0) == victim || r.getLong(1) == victim),
      "victim gone after erasure")
    val erased = erasedRows.map(_.toString).sorted.toSeq
    // COMPACTION: optimize rewrites every live row as delete+insert churn in
    // one commit — the feed nets it to zero, so no live doc gets tombstoned
    TableLog.optimize(spark, tdir) // v2
    assert(Dedup.propagateErasures(spark, tdir, idx, cur).contains((1L, 2L)))
    val postOpt = Dedup.indexPairs(spark, idx, lit(true)).collect()
      .map(_.toString).sorted.toSeq
    assert(postOpt == erased,
      "compaction churn must not tombstone live docs out of the serving index")
    // RESURRECTION: re-inserting the erased doc (fresh data, same id) must
    // serve again — the index's immutable rows were never removed, the
    // newer-versioned resurrection mark cancels the tombstone
    TableLog.commitAppend(victimRow, tdir) // v3
    victimRow.unpersist(blocking = false)
    assert(Dedup.propagateErasures(spark, tdir, idx, cur).contains((2L, 3L)))
    val resurrected = Dedup.indexPairs(spark, idx, lit(true)).collect()
      .map(_.toString).sorted.toSeq
    assert(resurrected == before,
      "a re-inserted doc must serve from the index again (versioned tombstone)")
    // and the whole lifecycle equals a from-scratch rebuild of the snapshot
    Dedup.writeMinhashIndex(
      TableLog.read(spark, tdir).select("doc_id", "text"), s"$root/rebuild", append = false)
    val rebuilt = Dedup.indexPairs(spark, s"$root/rebuild", lit(true)).collect()
      .map(_.toString).sorted.toSeq
    assert(resurrected == rebuilt)
  }

  test("streaming erasure propagation: per-trigger tombstones, churn nets, resurrect, replay no-op") {
    import graft.sources.TableLog
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("mh_estream").toString
    val (tdir, idx, ck) = (s"$root/docs", s"$root/idx", s"$root/ck")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    TableLog.commitAppend(docs, tdir) // v0
    Dedup.writeMinhashIndex(
      TableLog.read(spark, tdir).select("doc_id", "text"), idx, append = false)
    def run(): Unit = {
      val q = graft.streaming.StreamIngest.erasurePropagationStream(spark, tdir, idx, ck)
      assert(q.awaitTermination(120000)); ()
    }
    run() // drains v0: all inserts, nothing marked
    def pairs() = Dedup.indexPairs(spark, idx, lit(true)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = pairs()
    assert(before.nonEmpty)
    val victim = before.map(_._1).min
    val victimRow = docs.where(col("doc_id") === victim).cache()
    TableLog.deleteWhere(spark, tdir, s"doc_id = $victim") // v1
    TableLog.optimize(spark, tdir)                          // v2: pure churn
    run() // v1 tombstones the victim; v2 nets to zero
    val served = pairs()
    assert(served == before.filterNot(p => p._1 == victim || p._2 == victim),
      "streamed erasure must remove exactly the victim's pairs")
    // re-insert resurrects within one drain
    TableLog.commitAppend(victimRow, tdir) // v3
    victimRow.unpersist(blocking = false)
    run()
    assert(pairs() == before, "a re-inserted doc must serve again")
    // forced replay of the last batch: byte-identical marks, no effect
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())
    run()
    assert(pairs() == before, "replayed erasure batch changed the served set")
  }

  test("tombstone compaction: sidecar shrinks to one mark per id, served set unchanged") {
    import graft.sources.TableLog
    import graft.llm.Erasure
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("mh_tcomp").toString
    val (tdir, idx, cur) = (s"$root/docs", s"$root/idx", s"$root/cursor")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    TableLog.commitAppend(docs, tdir) // v0
    Dedup.writeMinhashIndex(
      TableLog.read(spark, tdir).select("doc_id", "text"), idx, append = false)
    Dedup.propagateErasures(spark, tdir, idx, cur)
    def pairs() = Dedup.indexPairs(spark, idx, lit(true)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ids = pairs().flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    assert(ids.size >= 3, "need at least three near-dup participants")
    val (v1, v2, v3) = (ids(0), ids(1), ids(2))
    val v1row = docs.where(col("doc_id") === v1).cache()
    TableLog.deleteWhere(spark, tdir, s"doc_id = $v1") // v1: erase
    Dedup.propagateErasures(spark, tdir, idx, cur)
    TableLog.commitAppend(v1row, tdir) // v2: resurrect
    v1row.unpersist(blocking = false)
    Dedup.propagateErasures(spark, tdir, idx, cur)
    TableLog.deleteWhere(spark, tdir, s"doc_id = $v2") // v3: erase another
    Dedup.propagateErasures(spark, tdir, idx, cur)
    // lost cursor: full-history redelivery appends duplicate marks
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(cur))
    Dedup.propagateErasures(spark, tdir, idx, cur)
    val served = pairs()
    assert(!served.exists(p => p._1 == v2 || p._2 == v2))
    val (b, a) = Erasure.compactTombstones(spark, idx, "doc_id")
    assert(b >= 4 && a == 2,
      s"compaction should collapse to one mark per marked id, got $b -> $a")
    assert(pairs() == served, "compaction must not change the served set")
    // idempotent
    val (b2, a2) = Erasure.compactTombstones(spark, idx, "doc_id")
    assert(b2 == 2 && a2 == 2)
    assert(pairs() == served)
    // and erasure keeps working on the compacted sidecar
    TableLog.deleteWhere(spark, tdir, s"doc_id = $v3") // v4
    Dedup.propagateErasures(spark, tdir, idx, cur)
    assert(!pairs().exists(p => p._1 == v3 || p._2 == v3),
      "post-compaction erasure must still propagate")
  }

  test("text index erasure: erased doc leaves every posting lookup; equals rebuild; churn nets") {
    import graft.sources.TableLog
    import graft.llm.TextStats
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("tidx_erase").toString
    val (tdir, idx, cur) = (s"$root/docs", s"$root/idx", s"$root/cursor")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    TableLog.commitAppend(docs, tdir) // v0
    TextStats.writeTextIndex(TableLog.read(spark, tdir), idx)
    assert(TextStats.propagateTextErasures(spark, tdir, idx, cur).contains((-1L, 0L)))
    def postings(term: String) = TextStats.termLookup(spark, idx, term).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val before = postings("table")
    assert(before.nonEmpty, "probe term must have postings at this scale")
    val victim = before.map(_._2).min
    TableLog.deleteWhere(spark, tdir, s"doc_id = $victim") // v1
    assert(TextStats.propagateTextErasures(spark, tdir, idx, cur).contains((0L, 1L)))
    val served = postings("table")
    assert(!served.exists(_._2 == victim), "an erased doc must never be served")
    assert(served == before.filterNot(_._2 == victim),
      "only the victim's postings may disappear")
    // == a from-scratch rebuild of the live snapshot
    TextStats.writeTextIndex(TableLog.read(spark, tdir), s"$root/rebuild")
    assert(served == TextStats.termLookup(spark, s"$root/rebuild", "table").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
    // compaction churn nets to zero erasures
    TableLog.optimize(spark, tdir) // v2
    assert(TextStats.propagateTextErasures(spark, tdir, idx, cur).contains((1L, 2L)))
    assert(postings("table") == served, "optimize churn must not erase live docs")
    // redelivery (lost cursor) is a no-op in effect
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(cur))
    TextStats.propagateTextErasures(spark, tdir, idx, cur)
    assert(postings("table") == served)
  }

  test("fairness_audit: the best-treated source scores 1e6 and ratios respect the rates") {
    val rows = graft.llm.Governance.fairnessAudit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val maxRate = rows.map(_.getAs[Long]("rate_ppm")).max
    rows.foreach { r =>
      assert(r.getAs[Long]("rate_ppm") == r.getAs[Long]("n_pass") * 1000000L / r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("di_ppm") ==
        r.getAs[Long]("rate_ppm") * 1000000L / math.max(maxRate, 1L))
      assert((r.getAs[Long]("below_80pct") == 1L) == (r.getAs[Long]("di_ppm") < 800000L))
    }
    assert(rows.exists(r => r.getAs[Long]("rate_ppm") == maxRate &&
      (maxRate == 0L || r.getAs[Long]("di_ppm") == 1000000L)),
      "the max-rate source must have a full selection ratio")
    // pass counts agree with the production filter's accounting
    val qm = graft.llm.Governance.qualityModelFilter(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_pass") == qm(r.getString(0)),
      "fairness audit and quality filter disagree on pass counts"))
  }

  test("benford_audit: digit rows partition the orders and deviations close the identity") {
    import org.apache.spark.sql.functions.{col, expr}
    val rows = graft.llm.Governance.benfordAudit(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).sorted.sameElements(1L to 9L), "one row per digit 1..9")
    assert(graft.llm.Governance.BenfordPpm.map(_._2).sum == 999995L)
    val n = rows.head.getAs[Long]("n")
    assert(rows.map(_.getAs[Long]("n_obs")).sum == n, "digit counts partition the rows")
    val positive = Tables.load(spark, sfDir, "orders")
      .where(expr("CAST(floor(o_totalprice * 100) AS BIGINT)") > 0).count()
    assert(n == positive)
    rows.foreach { r =>
      assert(r.getAs[Long]("obs_ppm") == r.getAs[Long]("n_obs") * 1000000L / n)
      assert(r.getAs[Long]("dev_ppm") == r.getAs[Long]("obs_ppm") - r.getAs[Long]("exp_ppm"))
    }
  }

  test("perceptron training: zero-init round misclassifies all, round 2 reduces error") {
    import graft.llm.Governance
    val rows = Governance.perceptronTrain(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = Tables.load(spark, sfDir, "documents").count()
    assert(rows(1) == n, s"w=0 gives margin 0 everywhere: expected $n, got ${rows(1)}")
    assert(rows(2) < rows(1), s"batch update must reduce error: ${rows.toSeq.sorted}")
  }

  test("random projection preserves distances around the k/3 JL expectation") {
    import graft.llm.Similarity
    val rows = Similarity.rpProject(spark, sfDir).collect()
    assert(rows.length == Similarity.RpPairs, s"expected ${Similarity.RpPairs} audited pairs")
    val ratios = rows.map(_.getAs[Long]("ratio_ppm").toDouble)
    // E[d2_proj] = (k/3)·d2_orig for the sparse Achlioptas matrix → expected
    // ratio ≈ 5.33e6 ppm; individual pairs concentrate loosely at k=16
    assert(ratios.forall(r => r > 0 && r < 4e7), s"ratio escaped JL envelope: ${ratios.toSeq}")
    val mean = ratios.sum / ratios.length
    assert(mean > 2.5e6 && mean < 1.1e7, s"mean ratio $mean far from k/3 expectation 5.33e6")
  }

  test("approx column profile matches exact profile (counts exact, distinct within 5%)") {
    import graft.analytics.Relational
    def byCol(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r).toMap
    val exact  = byCol(Relational.profileOrders(spark, sfDir))
    val approx = byCol(Relational.profileOrdersApprox(spark, sfDir))
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (c, e) =>
      val a = approx(c)
      assert(a.getLong(1) == e.getLong(1), s"$c n_rows")   // exact fields identical
      assert(a.getLong(2) == e.getLong(2), s"$c n_null")
      assert(a.getString(4) == e.getString(4), s"$c min_s")
      assert(a.getString(5) == e.getString(5), s"$c max_s")
      val (ad, ed) = (a.getLong(3), e.getLong(3))          // sketch within rsd envelope
      assert(math.abs(ad - ed).toDouble / ed <= 0.05, s"$c n_distinct: $ad vs $ed")
    }
  }

  test("decontaminate_eval finds cross-split 8-gram overlap (vs DuckDB)") {
    import graft.llm.Curation
    val rows = Curation.decontaminate(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // independently computed with DuckDB over sf0.001
    val expected = Map(
      "src0" -> ((1L, 68L, 68L)),
      "src12" -> ((1L, 70L, 70L)),
      "src4" -> ((1L, 59L, 59L)),
      "src8" -> ((1L, 69L, 69L)))
    assert(rows == expected, s"got $rows")
  }

  test("heavy hitters: MG guarantee — support > n/(k+1) present, undercount ≤ n/(k+1)") {
    import graft.llm.TextStats
    val hh = TextStats.mgCandidates(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val exact = Tables.load(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.explode(TextStats.tokensCol).as("token"))
      .groupBy("lang", "token").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nByLang = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val k = TextStats.MgK
    exact.foreach { case ((lang, tok), n) =>
      val bound = nByLang(lang) / (k + 1)
      if (n > bound)
        assert(hh.contains((lang, tok)), s"frequent token ($lang,$tok) n=$n bound=$bound missing")
    }
    hh.foreach { case ((lang, tok), (est, nTok)) =>
      val truth = exact.getOrElse((lang, tok), 0L)
      assert(est <= truth, s"($lang,$tok) overcounts: est=$est truth=$truth")
      assert(truth - est <= nTok / (k + 1), s"($lang,$tok) undercount too deep: est=$est truth=$truth")
      assert(nTok == nByLang(lang))
    }
  }

  test("count-min sketch: est >= true always (one-sided error), exact when no collision") {
    import graft.llm.TextStats
    val rows = TextStats.cmsTokenFreq(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, truth) = (r.getLong(2), r.getLong(3))
      assert(est >= truth, s"(${r.getString(0)},${r.getString(1)}) undercounts: est=$est truth=$truth")
    }
    // the probe set includes genuinely present tokens — the sketch is not vacuous
    assert(rows.exists(_.getLong(3) > 0))
  }

  test("text index lookup prunes to one term bucket and matches a direct scan") {
    import graft.llm.TextStats
    import org.apache.spark.sql.functions._
    val p = "/tmp/graft_tindex_spec"
    Scratch.wipe(p)
    TextStats.writeTextIndex(Tables.loadSpread(spark, sfDir, "documents"), p)
    // bucketed layout on disk
    val dirs = new java.io.File(p).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket="))
    assert(dirs.length > 1, s"index not bucketed: ${dirs.toSeq}")
    val look = TextStats.termLookup(spark, p, "table")
    val plan = look.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"lookup does not partition-prune:\n${plan.take(1500)}")
    val direct = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), explode(TextStats.tokensCol).as("term"))
      .where(col("term") === "table").select("doc_id").distinct().count()
    assert(look.count() == direct && direct > 0)
  }

  test("k-means training reduces inertia vs the raw seed assignment") {
    import graft.llm.Similarity
    def inertia(iters: Int): Long = Similarity.kmeansCore(spark, sfDir, iters)
      .agg(org.apache.spark.sql.functions.sum("inertia")).collect()(0).getLong(0)
    val (i0, i2) = (inertia(0), (inertia(Similarity.KmIters)))
    assert(i2 < i0, s"training did not improve: iters=0 inertia=$i0, trained=$i2")
    // every corpus vector lands in exactly one cell
    val n = Similarity.kmeansCore(spark, sfDir, Similarity.KmIters)
      .agg(org.apache.spark.sql.functions.sum("n_members")).collect()(0).getLong(0)
    val total = Tables.load(spark, sfDir, "embeddings").count()
    assert(n == total, s"partition not exhaustive: $n of $total assigned")
  }

  test("ppjoin prefix filtering is lossless: identical pair set to the full inverted-index jaccard") {
    val full = Dedup.jaccard(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pp = Dedup.ppjoin(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp == full,
      s"prefix filter diverged: missing=${full -- pp}, extra=${pp -- full}")
    assert(full.nonEmpty, "vacuous: no near-dup pairs at spec scale")
  }

  test("semdedup: kept/dropped partition the corpus; every cell keeps its centroid-nearest-last anchor") {
    val out = Similarity.semDedup(spark, sfDir)
      .select("vec_id", "cell", "cent_e6", "n_dom", "kept").collect()
    val total = Tables.load(spark, sfDir, "embeddings").count()
    assert(out.length == total, s"not a partition: ${out.length} of $total rows")
    // kept ⇔ no dominating semantic duplicate
    out.foreach { r =>
      val (nDom, kept) = (r.getLong(3), r.getInt(4))
      assert((kept == 1) == (nDom == 0L), s"kept/n_dom inconsistent: $r")
    }
    // the (cent_e6, vec_id)-minimal member of each cell cannot be dominated:
    // chains of the paper's "drop the closer-to-centroid twin" rule end there
    out.groupBy(_.getLong(1)).foreach { case (cell, rows) =>
      val anchor = rows.minBy(r => (r.getLong(2), r.getLong(0)))
      assert(anchor.getInt(4) == 1, s"cell $cell anchor dropped: $anchor")
    }
  }

  test("ope: target actions partition the log; ips = k·snips; estimates finite") {
    val rows = graft.llm.Governance.opeIps(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = Tables.load(spark, sfDir, "events").count()
    val k = Tables.load(spark, sfDir, "events")
      .select("event_type").distinct().count()
    assert(rows.map(_.getLong(1)).sum == total,
      "every logged event evaluated under exactly one target action")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "matched <= evaluated")
      assert(r.getLong(3) == k * r.getLong(4), "ips_num = K * snips_num")
      assert(!r.getDouble(5).isNaN && !r.getDouble(5).isInfinite)
    }
  }
}
