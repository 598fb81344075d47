package graft

import graft.analytics.Analytics
import java.sql.Timestamp

/** Hand-computed micro-fixtures for the four reference analyses (SURVEY §2.5). */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("rolling_wau: every day's count equals a naive per-anchor distinct recompute") {
    import org.apache.spark.sql.functions.{col, datediff, lit, to_date}
    val rows = Analytics.rollingWau(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pairs = Tables.load(spark, sfDir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = pairs.map(_._2).distinct.sorted
    assert(rows.map(_.getLong(0)).sameElements(days), "one row per active day")
    rows.foreach { r =>
      val anchor = r.getLong(0)
      val expect = pairs.filter(p => p._2 >= anchor - 6 && p._2 <= anchor)
        .map(_._1).distinct.length.toLong
      assert(r.getLong(2) == expect, s"day $anchor: ${r.getLong(2)} != $expect")
    }
  }

  test("attribution_multitouch: credit conserves exactly at 1e6 per attributed purchase") {
    import org.apache.spark.sql.functions.{col, expr}
    val rows = Analytics.attributionMultiTouch(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("tp"), col("event_id").as("pid"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tu"), col("ts").as("tv"))
    val attributed = p.join(t,
        col("pu") === col("tu") && col("tv") < col("tp") &&
          col("tv") >= col("tp") - expr(s"INTERVAL ${Analytics.AttrWindowH} HOURS"))
      .select("pid").distinct().count()
    assert(rows.map(_.getAs[Long]("credit_ppm_sum")).sum == 1000000L * attributed,
      "every attributed purchase distributes exactly 1e6 ppm")
    val firstTouches = rows.filter(_.getString(1) == "first").map(_.getAs[Long]("n_touches")).sum
    assert(firstTouches == attributed, "exactly one first touch per attributed purchase")
    rows.foreach(r => assert(Set("view", "click")(r.getString(0))))
  }

  test("order_aging: buckets partition open orders and value shares close") {
    import org.apache.spark.sql.functions.col
    val rows = Analytics.orderAging(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val openOrders = Tables.load(spark, sfDir, "orders")
      .where(col("o_orderstatus").isin("O", "P")).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == openOrders,
      "buckets must partition the open backlog")
    val totalValue = rows.map(_.getAs[Long]("value_c")).sum
    rows.foreach { r =>
      assert(Set("O", "P")(r.getString(0)))
      assert(r.getAs[Long]("value_share_ppm") ==
        r.getAs[Long]("value_c") * 1000000L / totalValue)
      assert(r.getAs[Long]("oldest_age_d") >= 0)
    }
    assert(rows.map(_.getAs[Long]("value_share_ppm")).sum <= 1000000L)
  }

  test("growth_accounting: classes partition weekly actives and flows balance week over week") {
    val rows = Analytics.growthAccounting(spark, sfDir).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") + r.getAs[Long]("n_resurrected"),
        "new/retained/resurrected must partition the week's actives")
      assert(r.getAs[Long]("n_churned") >= 0)
    }
    // week 1 has no predecessor: nobody retained, nobody churned, all new
    val first = rows.head
    assert(first.getAs[Long]("n_retained") == 0 && first.getAs[Long]("n_churned") == 0)
    assert(first.getAs[Long]("n_new") == first.getAs[Long]("n_active"))
    // conservation: active(w) = active(w-1) - churned(w) + new(w) + resurrected(w)
    rows.sliding(2).foreach {
      case Array(a, b) if b.getLong(0) == a.getLong(0) + 1 =>
        assert(b.getAs[Long]("n_active") ==
          a.getAs[Long]("n_active") - b.getAs[Long]("n_churned") +
            b.getAs[Long]("n_new") + b.getAs[Long]("n_resurrected"),
          s"week ${b.getLong(0)}: growth-accounting identity broken")
      case _ => // a fully-inactive gap week breaks row adjacency, not the law
    }
  }

  test("abc_classification: classes partition parts, shares telescope, A dominates per-part") {
    val rows = Analytics.abcClassification(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_parts"),
        r.getAs[Long]("revenue_c"), r.getAs[Long]("share_ppm")))).toMap
    assert(rows.contains("A") && rows.contains("C"))
    val totalParts = Tables.load(spark, sfDir, "lineitem")
      .select("l_partkey").distinct().count()
    assert(rows.values.map(_._1).sum == totalParts, "classes partition the part domain")
    // floored shares sum to at most unity and A's share is <= 80% + one part
    assert(rows.values.map(_._3).sum <= 1000000L)
    assert(rows("A")._3 <= 800000L, "A is capped at the 80% cut by construction")
    // mean revenue per part strictly decreases A -> C (Pareto ordering)
    def meanRev(c: String) = rows.get(c).map(v => v._2.toDouble / v._1)
    val order = Seq("A", "B", "C").flatMap(meanRev)
    assert(order.sliding(2).forall(p => p.length < 2 || p(0) > p(1)),
      s"per-part revenue must fall across classes: $order")
  }

  test("retention_lift: cohort counts bounded by base and lift closes the rate identity") {
    val rows = Analytics.retentionLift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val baseRate = rows.head.getAs[Long]("base_rate_ppm")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_retained") <= r.getAs[Long]("n_users"))
      assert(r.getAs[Long]("rate_ppm") ==
        r.getAs[Long]("n_retained") * 1000000L / r.getAs[Long]("n_users"))
      assert(r.getAs[Long]("base_rate_ppm") == baseRate, "one shared base rate")
      assert(r.getAs[Long]("lift_ppm") >= 0)
    }
    // independent recompute of the base rate from raw events
    import org.apache.spark.sql.functions.{col, datediff, expr, lit, to_date}
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
    val Array(mn, mx) = ev.agg(
      org.apache.spark.sql.functions.min("d"), org.apache.spark.sql.functions.max("d"))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val b = mn + ((mx - mn) * 3) / 4
    val users = ev.collect().map(r => (r.getLong(0), r.getLong(1)))
    val preUsers = users.filter(_._2 <= b).map(_._1).distinct
    val retUsers = users.filter(_._2 > b).map(_._1).toSet
    val expectBase = preUsers.count(retUsers) * 1000000L / preUsers.length
    assert(baseRate == expectBase, s"base rate $baseRate != recomputed $expectBase")
  }

  test("process_conformance: verdicts partition sessions and replay an in-memory ladder") {
    import org.apache.spark.sql.functions.{col, date_format}
    val rows = Analytics.processConformance(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.nonEmpty)
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        (r.getTimestamp(2).getTime, r.getLong(3)), r.getString(4).charAt(0)))
    val expect = ev.groupBy(e => (e._1, e._2)).toSeq.map { case (_, es) =>
      val seq = es.sortBy(_._3).map(_._4).mkString
      def pos(c: Char) = seq.indexOf(c) + 1
      if (pos('s') > 1) "late_signup"
      else if (pos('c') > 0 && (pos('v') == 0 || pos('v') > pos('c'))) "click_before_view"
      else if (pos('p') > 0 && (pos('c') == 0 || pos('c') > pos('p'))) "purchase_before_click"
      else if (pos('p') > 0 && pos('p') < seq.length) "activity_after_purchase"
      else "conformant"
    }
    val counts = expect.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(rows.keySet == counts.keySet)
    counts.foreach { case (v, n) => assert(rows(v)._1 == n, s"$v session count") }
    assert(rows.values.map(_._1).sum == expect.size.toLong, "verdicts partition sessions")
    assert(rows.values.map(_._3).sum <= 1000000L, "floored shares cannot exceed unity")
  }

  test("ab_quantile_effect: quantiles ordered within arm, deltas close the identity") {
    val r = Analytics.abQuantileEffect(spark, sfDir).collect().head
    def q(sfx: String) = Seq(s"p25_$sfx", s"p50_$sfx", s"p75_$sfx", s"p90_$sfx")
      .map(r.getAs[Long](_))
    Seq("ctrl", "treat").foreach { sfx =>
      val qs = q(sfx)
      assert(qs.sliding(2).forall(p => p(0) <= p(1)), s"quantiles out of order for $sfx")
    }
    Seq(("d25", "p25"), ("d50", "p50"), ("d75", "p75"), ("d90", "p90")).foreach {
      case (d, p) =>
        assert(r.getAs[Long](d) == r.getAs[Long](s"${p}_treat") - r.getAs[Long](s"${p}_ctrl"))
    }
    assert(r.getAs[Long]("n_ctrl") > 0 && r.getAs[Long]("n_treat") > 0)
  }

  test("ab_diff_in_diff: cells populated, boundary inside history, DiD identity replays") {
    val r = Analytics.abDiffInDiff(spark, sfDir).collect().head
    Seq("n_c_pre", "n_c_post", "n_t_pre", "n_t_post").foreach(c =>
      assert(r.getAs[Long](c) > 0, s"empty cell $c"))
    val mcPre  = r.getAs[Long]("s_c_pre").toDouble / r.getAs[Long]("n_c_pre")
    val mcPost = r.getAs[Long]("s_c_post").toDouble / r.getAs[Long]("n_c_post")
    val mtPre  = r.getAs[Long]("s_t_pre").toDouble / r.getAs[Long]("n_t_pre")
    val mtPost = r.getAs[Long]("s_t_post").toDouble / r.getAs[Long]("n_t_post")
    assert(r.getAs[Double]("did_milli") == (mtPost - mtPre) - (mcPost - mcPre))
    assert(r.getAs[Double]("m_c_pre") == mcPre && r.getAs[Double]("m_t_post") == mtPost)
    import org.apache.spark.sql.functions.{col, datediff, lit, to_date}
    val days = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
      .agg(org.apache.spark.sql.functions.min("d"), org.apache.spark.sql.functions.max("d"))
      .collect().head
    val b = r.getAs[Long]("boundary_day_num")
    assert(b > days.getLong(0) && b <= days.getLong(1))
  }

  test("user_burstiness: gap moments and diversity replay an in-memory recompute") {
    import org.apache.spark.sql.functions.col
    val rows = Analytics.userBurstiness(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.nonEmpty)
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    ev.groupBy(_._1).foreach { case (u, es) =>
      val sortedUs = es.sortBy(e => (e._2, e._3)).map(_._2)
      if (sortedUs.length >= 2) {
        val gaps = sortedUs.sliding(2).map(p => (p(1) - p(0)) / 1000000L).toSeq
        val r = rows(u)
        assert(r.getAs[Long]("n_gaps") == gaps.length)
        assert(r.getAs[Long]("sum_gap_s") == gaps.sum)
        val sg = gaps.sum; val sg2 = gaps.map(g => g * g).sum
        if (sg > 0)
          assert(r.getAs[Long]("cv2_ppm") ==
            math.floor(sg2.toDouble / sg / sg * gaps.length * 1000000L).toLong - 1000000L)
        val cs = es.groupBy(_._4).map(_._2.length.toLong)
        assert(r.getAs[Long]("n_types") == cs.size)
        assert(r.getAs[Long]("gini_ppm") ==
          1000000L - cs.map(c => c * c).sum * 1000000L / (es.length.toLong * es.length))
      } else assert(!rows.contains(u), "single-event users carry no gap profile")
    }
  }

  test("user_stickiness: ratio bounded by construction and extremes bracket the mean") {
    val r = Analytics.userStickiness(spark, sfDir).collect().head
    val (n, mean, mn, mx) = (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5))
    assert(n > 0)
    // DAU <= WAU always, and a day's actives are inside its own window
    assert(mn > 0 && mx <= 1000000L, s"stickiness out of (0, 1e6]: min=$mn max=$mx")
    assert(mn <= mean && mean <= mx, "mean must sit between the extremes")
  }

  test("seq_nextpred_eval: per-from argmax accuracy dominates the global baseline") {
    val rows = Analytics.seqNextpredEval(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (acc, base) = (r.getLong(3), r.getLong(4))
      assert(acc >= 0 && acc <= 1000000L && base >= 0 && base <= 1000000L)
      // the per-from-type argmax is the in-sample-optimal constant-per-from
      // predictor, and the global majority class is one such predictor
      assert(acc >= base, s"${r.getString(0)}: argmax acc $acc < baseline $base")
    }
  }

  test("ab_cuped: variance never increases and adjusted means replay in memory") {
    val rows = Analytics.abCuped(spark, sfDir).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      // CUPED with the pooled OLS theta cannot increase pooled variance;
      // per-arm reduction can dip slightly negative only when the arm's
      // covariance structure diverges from pooled — allow a small corridor
      if (!r.isNullAt(4))
        assert(r.getLong(4) > -200000L && r.getLong(4) <= 1000000L,
          s"variance reduction implausible: ${r.getLong(4)}")
    }
    // in-memory replay of arm 0's adjusted mean
    val ev = Tables.load(spark, sfDir, "events")
      .where(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .selectExpr("user_id",
        "CAST(datediff(to_date(ts), '1970-01-01') AS LONG) AS d",
        "CAST(floor(value * 1000) AS LONG) AS micro")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bday = (ev.map(_._2).min + ev.map(_._2).max + 1) / 2
    val pu = ev.groupBy(_._1).map { case (u, es) =>
      (u % 2,
        es.filter(_._2 < bday).map(_._3).sum / 1000,
        es.filter(_._2 >= bday).map(_._3).sum / 1000)
    }.toSeq
    val np = pu.size.toLong
    val sxp = pu.map(_._2).sum; val syp = pu.map(_._3).sum
    val sxxp = pu.map(t => t._2 * t._2).sum
    val sxyp = pu.map(t => t._2 * t._3).sum
    val theta = (np * sxyp - sxp * syp).toDouble / (np * sxxp - sxp * sxp).toDouble
    val a0 = pu.filter(_._1 == 0L)
    val n0 = a0.size.toLong
    val adj = a0.map(_._3).sum.toDouble / n0 -
      theta * (a0.map(_._2).sum.toDouble / n0 - sxp.toDouble / np)
    val got = rows.find(_.getLong(0) == 0L).get
    assert(got.getLong(3) == math.floor(adj * 1000).toLong,
      s"arm0 adjusted mean: got ${got.getLong(3)} want ${math.floor(adj * 1000).toLong}")
  }

  test("ab_significance: margins partition users and the chi-square identity replays") {
    val r = Analytics.abSignificance(spark, sfDir).collect().head
    val (a, b, c, d) = (r.getAs[Long]("n_conv_0"), r.getAs[Long]("n_nonconv_0"),
      r.getAs[Long]("n_conv_1"), r.getAs[Long]("n_nonconv_1"))
    val users = Tables.load(spark, sfDir, "events")
      .select("user_id").distinct().count()
    assert(a + b + c + d == users, "cells partition the user base")
    assert(r.getAs[Long]("conv0_ppm") == a * 1000000 / (a + b))
    assert(r.getAs[Long]("conv1_ppm") == c * 1000000 / (c + d))
    val n = (a + b + c + d).toDouble
    val det = (a * d - b * c).toDouble
    val chi2 = n * det * det / ((a + b) * (c + d) * (a + c) * (b + d)).toDouble
    assert(r.getAs[Long]("chi2_milli") == math.floor(chi2 * 1000).toLong)
    assert(r.getAs[Long]("significant_05") ==
      (if (r.getAs[Long]("chi2_milli") >= 3841L) 1L else 0L))
  }

  test("mix_shift_decomp: Kitagawa effects sum to the overall rate change") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.mixShiftDecomp(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // rebuild exact sufficient stats from the emitted integer columns
    val (tn1, tn2) = (rows.map(_.getAs[Long]("n1")).sum, rows.map(_.getAs[Long]("n2")).sum)
    assert(tn1 > 0 && tn2 > 0)
    // shares per period sum to ~1e6 (floor loss < #segments)
    assert(math.abs(rows.map(_.getAs[Long]("share1_ppm")).sum - 1000000L) < rows.length)
    assert(math.abs(rows.map(_.getAs[Long]("share2_ppm")).sum - 1000000L) < rows.length)
    // Kitagawa identity on the milli-cent effects: sum of all three effect
    // columns approximates overall avg2 - avg1 within floor tolerance
    val effectsMc = rows.flatMap(r => Seq(
      r.getAs[Long]("mix_mc"), r.getAs[Long]("rate_mc"), r.getAs[Long]("inter_mc"))).sum
    // overall rates from the emitted per-segment rate floors would lose too
    // much; recompute from raw data instead
    val od = Tables.load(spark, sfDir, "orders")
    val y = org.apache.spark.sql.functions.year(col("o_orderdate"))
    val s1 = od.filter(y === Analytics.MixY1)
      .agg(sum(floor(col("o_totalprice") * 100).cast("long"))).collect()(0).getLong(0)
    val s2 = od.filter(y === Analytics.MixY2)
      .agg(sum(floor(col("o_totalprice") * 100).cast("long"))).collect()(0).getLong(0)
    val deltaMc = (s2.toDouble / tn2 - s1.toDouble / tn1) * 1000
    assert(math.abs(effectsMc - deltaMc) <= 3 * rows.length + 1,
      s"decomposition $effectsMc must track overall change $deltaMc")
  }

  test("fulfillment_lag: quantiles ordered and consistent with quantile_disc semantics") {
    val r = Analytics.fulfillmentLag(spark, sfDir).collect().head
    val (mn, p50, p90, p99, mx) = (r.getAs[Long]("min_lag"), r.getAs[Long]("p50"),
      r.getAs[Long]("p90"), r.getAs[Long]("p99"), r.getAs[Long]("max_lag"))
    assert(mn <= p50 && p50 <= p90 && p90 <= p99 && p99 <= mx)
    val mean = r.getAs[Long]("mean_lag_floor")
    assert(mean >= mn && mean <= mx)
    // independent check: p90 is the smallest lag with cum >= ceil(0.9 n)
    import org.apache.spark.sql.functions._
    val lags = Tables.load(spark, sfDir, "lineitem")
      .join(Tables.load(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
        .cast("long").as("lag"))
      .collect().map(_.getLong(0)).sorted
    val n = lags.length
    assert(r.getAs[Long]("n_lines") == n)
    assert(p90 == lags((Math.ceil(0.9 * n) - 1).toInt))
  }

  test("window_funnel: depths nest, ppm replays, and the window constraint binds") {
    val r = Analytics.windowFunnel(spark, sfDir).collect().head
    val (d1, d2, d3) = (r.getAs[Long]("n_depth1"), r.getAs[Long]("n_depth2"),
      r.getAs[Long]("n_depth3"))
    assert(d1 >= d2 && d2 >= d3 && d1 > 0, "funnel depths must nest")
    assert(r.getAs[Long]("conv2_ppm") == d2 * 1000000 / d1)
    assert(r.getAs[Long]("conv3_ppm") == d3 * 1000000 / d1)
    // the time window must actually constrain: an unwindowed view->click
    // funnel (any later click) reaches at least as many users, and on this
    // multi-month event stream strictly more unless every user converts
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("u"), col("ts").as("tv"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("u2"), col("ts").as("tc"))
    val unwindowed = v.join(c, col("u") === col("u2") && col("tc") > col("tv"))
      .select("u").distinct().count()
    assert(unwindowed >= d2, "window can only shrink the funnel")
  }

  test("funnel_time_to_convert: converters subset depth-3-or-better users, quantiles ordered") {
    val r = Analytics.funnelTimeToConvert(spark, sfDir).collect().head
    val (mn, p50, p90, mx) = (r.getAs[Long]("min_lag_min"), r.getAs[Long]("p50"),
      r.getAs[Long]("p90"), r.getAs[Long]("max_lag_min"))
    assert(mn >= 0 && mn <= p50 && p50 <= p90 && p90 <= mx)
    val mean = r.getAs[Long]("mean_lag_floor_min")
    assert(mean >= mn && mean <= mx)
    // every converter lag fits the funnel window
    assert(mx < Analytics.FunnelWindowH * 60L)
    // converters here (view->purchase) are at least the strict
    // view->click->purchase depth-3 population
    val wf = Analytics.windowFunnel(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_converters") >= wf.getAs[Long]("n_depth3"))
  }

  test("A1 volatility = stddev of consecutive diffs within a day") {
    // one user, one day, values 1, 3, 2 → diffs (2, -1) → stddev_samp ≈ 2.12132
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 7L, "click", 3.0, "{}"),
      (3L, ts("2024-01-01 12:00:00"), 7L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.mode("overwrite").parquet("/tmp/graft_test_a1/events.parquet")
    Seq((7L, "Customer#7", 0, 0.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet("/tmp/graft_test_a1/customer.parquet")
    val out = Analytics.volatility(spark, "/tmp/graft_test_a1").collect()
    assert(out.length == 1)
    // diffs floored at 1e-5: r5 = (200000, -100000); n=2, S1=1e5, S2=5e10
    // → sqrt((2*5e10 - 1e10) / 2) / 1e5 — the exact engine op chain
    val expected = math.sqrt(9e10 / 2.0) / 100000
    assert(out.head.getDouble(4) == expected) // 2.1213203435596424
    assert(out.head.getLong(5) == 2L)
    assert(out.head.getString(1) == "Customer#7") // broadcast dim label
  }

  test("A4 imbalance = (clicks - views) / (clicks + views), bounded in [-1,1]") {
    val out = Analytics.imbalance(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => math.abs(r.getDouble(7)) <= 1.0))
    // spot-check the formula on one row (raw correctly-rounded quotient)
    val r = out.head
    val expect = (r.getLong(4) - r.getLong(5)).toDouble / (r.getLong(4) + r.getLong(5))
    assert(r.getDouble(7) == expect)
  }

  test("A3 autocorrelation is in [-1,1] with enough days") {
    val out = Analytics.predictability(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.isNullAt(2) || math.abs(r.getDouble(2)) <= 1.0))
  }

  test("A13 Theil-Sen slope is the lower-median pairwise slope and resists one outlier day") {
    val out = graft.analytics.Analytics.theilSenTrend(spark, sfDir).collect()
    assert(out.nonEmpty)
    // rank law: exactly one row (the median) per (entity, month)
    val keys = out.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
    // pair count is C(n_days, 2)-shaped: a triangular number
    out.foreach { r =>
      val np = r.getLong(2)
      val n = ((1 + math.sqrt(1 + 8.0 * np)) / 2).round
      assert(n * (n - 1) / 2 == np, s"n_pairs $np is not triangular")
    }
  }

  test("A14 OLS: R2 is a probability; slope agrees in sign class with sufficient stats") {
    val out = graft.analytics.Analytics.olsTrend(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= 2, "n_days >= 2 enforced")
      if (!r.isNullAt(5)) {
        val r2 = r.getLong(5)
        assert(r2 >= 0L && r2 <= 1000000L, s"r2_e6 $r2 outside [0, 1e6]")
      }
    }
    // same keys as the robust estimator — the two trend views align
    val ts = graft.analytics.Analytics.theilSenTrend(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSet == ts)
  }

  test("A15 V-shape patterns: depths positive, max bounded by sum, count bounded by runs") {
    val out = graft.analytics.Analytics.vshapePatterns(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, maxD, sumD) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n >= 1)
      assert(maxD > 0, "a strict down-run must lose value")
      assert(maxD <= sumD && sumD <= n * maxD)
    }
  }

  test("A16 path mining: bounded top-K, user counts bounded by session counts") {
    val out = graft.analytics.Analytics.pathTopK(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= graft.analytics.Analytics.PathK)
    val counts = out.map(_.getLong(1))
    assert(counts.sameElements(counts.sortBy(-_: Long)), "rows arrive count-descending")
    out.foreach { r =>
      assert(r.getString(0).nonEmpty)
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1), "n_users <= n_sessions")
    }
  }

  test("A17 conformal: calibration rank law and near-target transfer coverage") {
    val out = graft.analytics.Analytics.conformalIntervals(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= 3L, "fit split size enforced")
      assert(r.getLong(4) >= 0L)
      assert(r.getLong(5) <= r.getLong(2), "covered bounded by fit size")
    }
    val cov = out.map(_.getLong(5)).sum.toDouble / out.map(_.getLong(2)).sum
    assert(cov > 0.7 && cov <= 1.0,
      s"overall transfer coverage $cov implausibly far from the 0.9 target")
  }

  test("A5 vwap sits inside each group's price range; twap likewise") {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, sfDir, "lineitem")
    val bounds = li
      .groupBy(concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"))
      .agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
    val rows = graft.analytics.Analytics.vwap(spark, sfDir)
      .join(bounds, "company_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (vwap, twap) = (r.getAs[Double]("vwap"), r.getAs[Double]("twap"))
      val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
      assert(vwap >= lo - 1e-6 && vwap <= hi + 1e-6, s"vwap $vwap outside [$lo,$hi]")
      assert(twap >= lo - 1e-6 && twap <= hi + 1e-6)
    }
  }

  test("A6 book liquidity: ask above bid everywhere, imbalance bounded") {
    val rows = graft.analytics.Analytics.bookLiquidity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("min_spread") > 0.0, "ask must sit above bid")
      assert(math.abs(r.getAs[Double]("book_imbalance")) <= 1.0)
      assert(r.getAs[Double]("min_mid") <= r.getAs[Double]("max_mid"))
    }
  }

  test("A7 ema stays inside each user's value range and uses every event") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val bounds = ev.groupBy("user_id")
      .agg(min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("n"))
    val rows = graft.analytics.Analytics.ema(spark, sfDir)
      .join(bounds, "user_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Double]("ema_value")
      assert(e >= r.getAs[Double]("lo") - 1e-9 && e <= r.getAs[Double]("hi") + 1e-9)
      assert(r.getAs[Long]("n_events") == r.getAs[Long]("n"))
    }
  }

  test("A8 max drawdown is in [-1, 0] and 0 only for monotone-rising streams") {
    val rows = graft.analytics.Analytics.maxDrawdown(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dd = r.getAs[Double]("max_drawdown")
      assert(dd <= 0.0 && dd > -1.0, s"drawdown $dd out of range")
    }
  }

  test("funnel stages are monotonically non-increasing") {
    val r = graft.analytics.Analytics.funnel(spark, sfDir).collect().head
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p && v > 0)
  }

  test("cohort retention: offset-0 cell equals the cohort's size") {
    import org.apache.spark.sql.functions._
    val ret = graft.analytics.Analytics.cohortRetention(spark, sfDir)
    val cohortSizes = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min(col("day")).as("cd"))
      .groupBy(date_format(col("cd"), "yyyy-MM-dd").as("cohort"))
      .agg(countDistinct(col("user_id")).as("size"))
    val joined = ret.where(col("day_offset") === 0)
      .join(cohortSizes, "cohort").collect()
    assert(joined.nonEmpty)
    joined.foreach(r =>
      assert(r.getAs[Long]("n_users") == r.getAs[Long]("size")))
    // no negative offsets can exist (cohort day is the minimum)
    assert(ret.where(col("day_offset") < 0).count() == 0)
  }

  test("A2 trade impact splits on the p90 quantity threshold") {
    val out = Analytics.tradeImpact(spark, sfDir).collect()
    val flags = out.map(_.getBoolean(3)).toSet
    assert(flags == Set(true, false))
  }

  test("ordered funnel converts only strictly-ordered chains with <=1h hops") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(min * 60000L)
    val ev = Seq(
      // user 1: view→click(30m)→purchase(60m) converts; purchase@200m has no
      // qualified click within the hour
      (1L, 1L, "view", ts(0)), (2L, 1L, "click", ts(30)),
      (3L, 1L, "purchase", ts(60)), (4L, 1L, "purchase", ts(200)),
      // user 2: click with NO preceding view never qualifies
      (5L, 2L, "click", ts(0)), (6L, 2L, "purchase", ts(10)),
      // user 3: click 90m after the view exceeds the hop bound
      (7L, 3L, "view", ts(0)), (8L, 3L, "click", ts(90)),
      (9L, 3L, "purchase", ts(100)))
      .toDF("event_id", "user_id", "event_type", "ts")
    ev.write.mode("overwrite").parquet("/tmp/graft_test_funnel/events.parquet")
    val out = Analytics.orderedFunnel(spark, "/tmp/graft_test_funnel")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (2L, 1L), 2L -> (1L, 0L), 3L -> (1L, 0L)))
  }

  test("A11 lead-lag emits every bucket pair once with consistent counts") {
    val out = Analytics.leadLag(spark, sfDir).collect()
    // 5 buckets → C(5,2) ordered pairs, each exactly once
    assert(out.length == 10)
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    out.foreach { r =>
      val (nDays, nAgree) = (r.getAs[Long]("n_days"), r.getAs[Long]("n_agree"))
      val both = r.getAs[Long]("n_both_up") + r.getAs[Long]("n_both_down")
      assert(nAgree <= nDays && both <= nAgree)
    }
  }

  test("A12 pairwise cov stats: one chosen pair matches a direct recompute") {
    import org.apache.spark.sql.functions.{col, floor, sum, to_date}
    val out = Analytics.pairwiseCovStats(spark, sfDir).collect()
    assert(out.nonEmpty, "sf0.001 pairs share >=20 active days")
    assert(out.forall(r => r.getLong(0) < r.getLong(1)), "pairs emitted once, ordered")
    out.foreach { r =>
      assert(r.getLong(6) ==
        r.getLong(2) * r.getLong(5) - r.getLong(3) * r.getLong(4),
        "cov_num must equal n*sum_ab - sum_a*sum_b")
    }
    // direct recompute of the first emitted pair from raw events
    val first = out.minBy(r => (r.getLong(0), r.getLong(1)))
    val (ua, ub) = (first.getLong(0), first.getLong(1))
    val daily = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("v"))
    val da = daily.where(col("user_id") === ua).select(col("day"), col("v").as("va"))
    val db = daily.where(col("user_id") === ub).select(col("day"), col("v").as("vb"))
    val joined = da.join(db, "day").collect()
    assert(first.getLong(2) == joined.length)
    assert(first.getLong(5) == joined.map(r => r.getLong(1) * r.getLong(2)).sum)
  }

  test("attribution models: first/last credit one touch per conversion; ppm models conserve") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.attributionModels(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // conversions with at least one lookback touch, counted directly
    val ev = Tables.load(spark, sfDir, "events")
    val conv = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
    val touch = ev.where(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id").as("tu"), col("ts").as("tts"))
    val attributed = conv.join(touch,
        col("cu") === col("tu") && col("tts") < col("cts") &&
          col("tts") >= col("cts") - expr(s"INTERVAL ${Analytics.AttrWindowD} DAYS"))
      .select("cid").distinct().count()
    val nTouches = rows.map(_.getAs[Long]("n_touches")).sum
    // first/last are partitions of the attributed conversions
    assert(rows.map(_.getAs[Long]("first_touch")).sum == attributed)
    assert(rows.map(_.getAs[Long]("last_touch")).sum == attributed)
    // fractional models conserve up to integer-div truncation (< 1 ppm/touch)
    for (c <- Seq("linear_ppm", "ushape_ppm")) {
      val s = rows.map(_.getAs[Long](c)).sum
      assert(s <= 1000000L * attributed, c)
      assert(s >= 1000000L * attributed - nTouches, c)
    }
  }

  test("graph influence: non-broadcast vertex mode plans no broadcast and matches") {
    // fallback mode must run FIRST on a clean cache: join hints are not part
    // of cache canonicalization, so a previously-cached broadcast-built edge
    // relation would be substituted into this run's plan and show its (fine,
    // already-materialized) broadcast in the toString
    spark.sqlContext.clearCache()
    spark.conf.set("spark.graft.graph.broadcastVertices", "false")
    val (rows, plan) =
      try {
        // the registered query localizes (collect + cache release), so the
        // plan is pinned off the frame it collects (the scope's observer)
        var inner: org.apache.spark.sql.DataFrame = null
        val r = Localize.observing {
          case (None, df) => inner = df
          case _          => ()
        }(Analytics.graphInfluence(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
        // read the plan AFTER the collect: same QueryExecution, AQE final
        // plan (CLAUDE.md plan rules)
        (r, inner.queryExecution.executedPlan.toString)
      } finally spark.conf.unset("spark.graft.graph.broadcastVertices")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"broadcast survived non-broadcast mode:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), "score join is not the promised SHJ")
    val expected = Analytics.graphInfluence(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == expected, "co-partitioned rounds diverged from broadcast rounds")
  }
}
