package graft

/** Plan-shape regression pins: the properties that make these queries scale
  * (broadcast dims, pushed scan predicates, no cartesian blowups) asserted
  * against the physical plan, so a refactor that silently flips a broadcast
  * into a shuffle join fails here instead of in a cluster.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def count(p: String, needle: String): Int = needle.r.findAllIn(p).length

  test("star joins broadcast every dimension (no sort-merge, no cartesian)") {
    val p5 = plan("q5_regional_revenue")
    assert(count(p5, "BroadcastHashJoin") >= 4, p5.take(2000))
    assert(count(p5, "SortMergeJoin") == 0 && count(p5, "CartesianProduct") == 0)
    val p3 = plan("q3_topk_revenue")
    assert(count(p3, "BroadcastHashJoin") >= 1)
    assert(count(p3, "CartesianProduct") == 0)
  }

  test("analytics label joins stay broadcast") {
    Seq("a1_volatility", "a2_trade_impact", "a3_predictability", "a4_imbalance").foreach { q =>
      val p = plan(q)
      assert(count(p, "BroadcastHashJoin") >= 1, s"$q lost its broadcast dim join")
      assert(count(p, "SortMergeJoin") == 0, s"$q shuffles a dim join")
    }
  }

  test("scan predicates reach the parquet reader") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("disjunctive predicate (q19) still pushes branch-common filters to both scans") {
    // the OR of three (brand, size, quantity) branches must not block
    // pushdown: each scan gets the disjunction restricted to ITS columns
    // (lineitem: the quantity ranges; part: the brand/size branches).
    // Inspect the scan nodes directly — plan toString truncates filter lists.
    val qe = SparkEntry.queries("q19_disjunctive_revenue")(spark, sfDir).queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.dataFilters.mkString(";")
    }
    assert(scans.exists(f => f.contains("l_quantity") && f.contains(" OR ")),
      s"quantity disjunction not pushed: $scans")
    assert(scans.exists(f => f.contains("p_brand") && f.contains("Brand#12")),
      s"brand disjunction not pushed: $scans")
    assert(count(plan("q19_disjunctive_revenue"), "CartesianProduct") == 0)
  }

  test("q7 star keeps dims broadcast; fact joins stay equi-joins") {
    val p = plan("q7_nation_volume")
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(2000))
    assert(count(p, "CartesianProduct") == 0 && count(p, "BroadcastNestedLoopJoin") == 0)
  }

  test("bounded top-k per group plans as an aggregate, not a window sort") {
    val p = plan("topk_per_group")
    assert(!p.contains("Window"), s"topk_per_group fell back to a window sort: ${p.take(1500)}")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p.take(1500))
  }

  test("feature-engineering queries keep the fact un-shuffled past its aggregate") {
    // target encoding: category stats and prior come back as broadcasts —
    // a sort-merge join here would shuffle the whole fact per feature
    val p = plan("target_encode_loo")
    assert(count(p, "BroadcastHashJoin") + count(p, "BroadcastNestedLoopJoin") >= 2,
      s"LOO encoding must broadcast its stats: ${p.take(1500)}")
    assert(count(p, "SortMergeJoin") == 0 && count(p, "CartesianProduct") == 0)
    // Holt forecast: dim labeling broadcast, no cartesian
    val ph = plan("ts_holt_forecast")
    assert(count(ph, "BroadcastHashJoin") >= 1, ph.take(1500))
    assert(count(ph, "SortMergeJoin") == 0 && count(ph, "CartesianProduct") == 0)
    // mix-shift: one fact aggregate + a 1-row broadcast back
    val pm = plan("mix_shift_decomp")
    assert(count(pm, "SortMergeJoin") == 0 && count(pm, "CartesianProduct") == 0)
  }

  test("knn outlier audit broadcasts the sample and never shuffles the corpus") {
    val qe = SparkEntry.queries("emb_knn_outliers")(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p.take(1500))
    assert(count(p, "SortMergeJoin") == 0 && count(p, "CartesianProduct") == 0)
    // the only exchanges are for the rank window + final cut, never a
    // corpus-wide hash repartition on the embedding payload
    assert(!p.contains("hashpartitioning(embedding"), "embedding payload shuffled")
  }

  test("query registry: names globally unique, every oracle names a query") {
    // queries/oracles build via flatMap(...).toMap — a duplicate name across
    // packs would silently SHADOW one implementation instead of failing
    val names = SparkEntry.packs.flatMap(_.all.map(_.name))
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names across packs: $dups")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("dsir selection plans a bounded TakeOrdered cut with broadcast weights") {
    val p = plan("dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K must be per-partition TakeOrdered, not a global sort:\n${p.take(2000)}")
    assert(count(p, "BroadcastHashJoin") >= 1, "bucket weights must broadcast")
    assert(count(p, "SortMergeJoin") == 0 && count(p, "CartesianProduct") == 0)
  }

  test("neither profiler plans an Expand; the exact one is per-column two-level aggs") {
    assert(!plan("profile_orders_approx").contains("Expand"),
      "HLL profiler must not multiply the fact through an Expand")
    val exact = plan("profile_orders")
    assert(!exact.contains("Expand"),
      "exact profiler regressed to the multi-countDistinct x7 Expand plan")
    // six union legs, each a two-level aggregate over ONE pruned column
    assert(count(exact, "Union") >= 1, exact.take(1500))
  }

  test("equi-depth histogram broadcasts its boundary row and keeps the fact un-sorted") {
    val p = plan("histogram_equidepth")
    assert(count(p, "BroadcastHashJoin") >= 1, "bucket boundaries must broadcast")
    assert(count(p, "SortMergeJoin") == 0 && count(p, "CartesianProduct") == 0)
    // the only Window runs over the (group, value) HISTOGRAM relation, after
    // its aggregate — never over raw fact rows
    assert(p.indexOf("Window") > p.indexOf("HashAggregate"),
      s"quantile window must sit above the histogram aggregate:\n${p.take(2000)}")
  }

  test("materialized view read is a pure scan — no recompute of the fact join") {
    val p = plan("ivm_join_view")
    assert(!p.contains("Join"), s"MV read must not re-join the fact:\n${p.take(1500)}")
    assert(count(p, "Scan parquet") >= 1, p.take(1500))
  }

  test("flagship plan-feature dossiers are pinned (PlanAudit numbers fail CI on drift)") {
    // exact executed-plan feature counts for the flagship queries at test
    // scale — a refactor that adds an exchange, loses a broadcast, or
    // breaks a codegen span changes these numbers and fails HERE instead
    // of waiting for a bench diff. Cleared cache first: a cached subplan
    // from an earlier suite substitutes by canonical plan (ignoring
    // join-strategy context) and would warp the counts.
    spark.sqlContext.clearCache()
    val pins = Map(
      "q1_pricing_summary" -> Map(
        "bcast_join" -> 0, "smj" -> 0, "shj" -> 0, "cartesian" -> 0,
        "bcast_nl" -> 0, "exchange" -> 1, "codegen_spans" -> 2, "pushed_scans" -> 1),
      "q3_topk_revenue" -> Map(
        "bcast_join" -> 2, "smj" -> 0, "shj" -> 0, "cartesian" -> 0,
        "bcast_nl" -> 0, "exchange" -> 3, "codegen_spans" -> 4, "pushed_scans" -> 3),
      "dedup_minhash" -> Map(
        "bcast_join" -> 2, "smj" -> 0, "shj" -> 1, "cartesian" -> 0,
        "bcast_nl" -> 0, "exchange" -> 5, "codegen_spans" -> 6, "pushed_scans" -> 0))
    pins.foreach { case (q, expect) =>
      val got = PlanAudit.features(SparkEntry.queries(q)(spark, sfDir))
      assert(got == expect, s"$q plan features drifted: got $got expected $expect")
    }
  }

  test("hopping window expands once pre-shuffle; hamming broadcasts probes; DV-free reads plan no join") {
    spark.sqlContext.clearCache()
    // hopping: ONE Expand (the ×4 window multiplicity), ONE exchange (the
    // partial agg absorbed the blow-up map-side), zero joins
    val hop = SparkEntry.queries("hopping_window_agg")(spark, sfDir)
    hop.collect()
    val hopPlan = hop.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Expand".r.findAllIn(hopPlan).length == 1, "window TVF should plan one Expand")
    val hf = PlanAudit.features(SparkEntry.queries("hopping_window_agg")(spark, sfDir))
    assert(hf("exchange") == 1 && hf("bcast_join") + hf("smj") + hf("shj") == 0, s"$hf")

    // hamming ANN: the probe sketches broadcast (nested-loop on the <>
    // residual); the corpus is never sort-merge joined
    val af = PlanAudit.features(SparkEntry.queries("ann_hamming_topk")(spark, sfDir))
    assert(af("bcast_nl") == 1 && af("smj") == 0 && af("cartesian") == 0, s"$af")

    // merge-on-read pays only when DVs exist: a DV-free read plans NO join,
    // a DV'd read exactly one anti-join
    import spark.implicits._
    val t = "/tmp/graft_test_plandv/t"
    Scratch.wipe("/tmp/graft_test_plandv")
    graft.sources.TableLog.commitAppend((1L to 10L).toDF("k"), t)
    val clean = graft.sources.TableLog.read(spark, t)
    clean.collect()
    val cleanPlan = clean.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!cleanPlan.contains("Join"), "DV-free read must be a plain scan")
    graft.sources.TableLog.deleteWhere(spark, t, "k % 2 = 0")
    val mor = graft.sources.TableLog.read(spark, t)
    mor.collect()
    val morPlan = mor.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("LeftAnti".r.findAllIn(morPlan).length == 1, "DV read is exactly one anti-join")
  }

  test("iterative graph rounds keep their exact per-round join count") {
    // the r7 regression (an out-degree re-join inside every pagerank round)
    // was invisible to whole-query plan audits — each round is a separate
    // job whose plan closes over the PREVIOUS round as a cached scan. The
    // Localize observer hands every materialized round frame to the spec, and
    // the pin is the LIVE join count (liveJoinCount stops at cache
    // boundaries; plan toString prints cached build plans recursively, so a
    // string count would charge round h with all rounds < h too):
    // pagerank = edges⋈ranks + deg⋈contrib, harmonic = frontier⋈edges +
    // visited anti-join. Anything third fails.
    spark.sqlContext.clearCache()
    val rounds = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    Seq("graph_pagerank", "graph_harmonic", "graph_lpa").foreach { q =>
      Localize.observing {
        case (Some(t), df) => rounds += ((q, t, PlanAudit.roundJoinCount(df))); ()
        case (None, _)     => ()
      }(SparkEntry.queries(q)(spark, sfDir).collect())
    }
    val pr = rounds.filter(_._1 == "graph_pagerank")
    assert(pr.size == graft.analytics.Graph.PrIters, s"expected every round audited, got $pr")
    pr.foreach { case (_, t, j) =>
      assert(j == 2, s"pagerank round $t drifted from 2 live joins: $j")
    }
    val hm = rounds.filter(_._1 == "graph_harmonic")
    assert(hm.size == graft.analytics.Graph.ReachHops)
    hm.foreach { case (_, h, j) =>
      assert(j == 2, s"harmonic round $h drifted from 2 live joins: $j")
    }
    // LPA: one co-partitioned edge⋈label join per round, nothing else
    val lp = rounds.filter(_._1 == "graph_lpa")
    assert(lp.size == graft.analytics.Graph.LpaRounds)
    lp.foreach { case (_, t, j) =>
      assert(j == 1, s"lpa round $t drifted from 1 live join: $j")
    }
  }

  test("table-log and drift newcomers keep their plan claims") {
    // metadata_count's whole point: zero data files touched — no scan, no
    // exchange, nothing to codegen
    val m = PlanAudit.features(SparkEntry.queries("metadata_count")(spark, sfDir))
    assert(m("exchange") == 0 && m("pushed_scans") == 0 && m("codegen_spans") == 0,
      s"metadata_count must stay metadata-only: $m")
    // drift statistics broadcast their 1-row totals; the fact never joins
    Seq("drift_cvm", "drift_wasserstein").foreach { q =>
      val f = PlanAudit.features(SparkEntry.queries(q)(spark, sfDir))
      assert(f("bcast_nl") == 1 && f("smj") == 0 && f("cartesian") == 0, s"$q: $f")
    }
    // bloom point lookups stay join-free pruned scans
    val b = PlanAudit.features(SparkEntry.queries("bloom_point_lookup")(spark, sfDir))
    assert(b("bcast_join") + b("smj") + b("shj") + b("cartesian") == 0, s"$b")
    assert(b("pushed_scans") >= 1, s"probe filters must push to the pruned scans: $b")
  }

  test("CDF drift windows: histogram cumsum is bucket-partitioned, only the offset relation is single-task") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case q: QueryStageExec        => windows(q.plan)
      case w: WindowExec            => w +: w.children.flatMap(windows)
      case n                        => n.children.flatMap(windows)
    }
    Seq("drift_ks", "drift_cvm", "drift_wasserstein").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect() // finalize AQE: pre-execution the stages are provisional
      val ws = windows(df.queryExecution.executedPlan)
      assert(ws.nonEmpty, s"$q should plan cumulative windows")
      ws.foreach { w =>
        val partCols = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
        val orderCols = w.orderSpec.flatMap(_.child.references.map(_.name)).toSet
        if (orderCols.contains("vm"))
          // the value-domain-sized histogram pass must scale out by bucket —
          // a repartition(1) regression here re-serializes the CDF at 100 TB
          assert(partCols.contains("bkt"),
            s"$q: histogram cumulative window must partition by bkt, got $partCols")
        else
          // the only permitted single-task window is the bucket-count-bounded
          // prefix-offset relation (constant-pid idiom over `bkt` order)
          assert(orderCols.contains("bkt") && partCols.contains("pid"),
            s"$q: unexpected window (partition $partCols, order $orderCols)")
      }
    }
    // gini_spend's two-level rank: the tie window partitions by the spend
    // value, the histogram cumsum by its bucket — the only pid window
    // orders by bkt (bucket-count-bounded). A window over the USER-scaled
    // relation partitioned by pid would re-serialize the rank at 100 TB.
    val g = SparkEntry.queries("gini_spend")(spark, sfDir)
    g.collect()
    val gw = windows(g.queryExecution.executedPlan)
    assert(gw.nonEmpty, "gini_spend should plan rank windows")
    gw.foreach { w =>
      val partCols = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      val orderCols = w.orderSpec.flatMap(_.child.references.map(_.name)).toSet
      assert(
        partCols.contains("x") || partCols.contains("bkt") ||
          (partCols.contains("pid") && orderCols.contains("bkt")),
        s"gini_spend: unexpected window (partition $partCols, order $orderCols)")
    }
  }

  test("no query plan contains a cartesian product") {
    SparkEntry.queries.keys.toSeq.sorted
      // first construction per dir materializes the grid table (memoized
      // in IngestPack) — skip the write here, the plan is a plain agg scan
      .filterNot(_ == "ingest_grid_candles")
      .foreach { q =>
        assert(count(plan(q), "CartesianProduct") == 0, s"$q has a cartesian product")
      }
  }
}
