package graft.llm

import graft.{Localize, Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-governance operators for a training-data pipeline: PII detection /
  * redaction and source-mixture rebalancing. The reference stores raw wire
  * payloads with no scrubbing pass (SURVEY.md §1.3); these are north-star
  * extension ops in the same family as [[Curation]].
  *
  * Scale notes (100 TB posture):
  *   - PII redaction is a narrow per-row projection — three codegen'd
  *     `regexp_replace` passes and three `regexp_extract_all` counts, no
  *     shuffle until the low-cardinality accounting aggregate. At 100 TB the
  *     redacted text streams straight to the sink; nothing widens.
  *   - Mixture rebalance is two scans (count pass, filter pass) + one
  *     broadcast of the per-stratum thresholds; membership is a pure
  *     function of a content-independent hash, so the sample is stable
  *     across task retries and engine replays (a `rand()` sample is not).
  *     On a production catalog the count pass comes free from table stats.
  *
  * Determinism notes: every regex below is written in the Java-regex ∩ RE2
  * common dialect (explicit character classes, bounded repetition, no
  * lookaround, no `\d`/`\s` shorthands whose definitions differ), so the ONE
  * pattern string drives both the Spark side and the DuckDB oracle.
  */
object Governance extends QueryPack {

  /** PII patterns — Java-regex ∩ RE2 common dialect (see determinism notes). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe = "\\+[0-9]{7,12}"

  /** Redact all three PII classes, email → ip → phone. Order matters only in
    * that replacements must not synthesize new matches; the `<CLASS>` tokens
    * contain no `@`, digits or `+`, so the three passes are independent.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Deterministic wire-log rendering of `events` — the governance analogue
    * of [[graft.ingest.IngestPack]]'s JSON frames: the synthetic tables carry
    * no real PII, so the scan target is derived (reproducibly, in both
    * engines) from the event columns. Each PII class appears on a different
    * deterministic subset of rows so the per-class counts are non-trivial.
    */
  private def logLine: Column = concat(
    lit("uid="), col("user_id").cast("string"),
    when(col("user_id") % 3 =!= 0,
      concat(lit(" email=u"), col("user_id").cast("string"),
        lit("@ex"), (col("event_id") % 7).cast("string"), lit(".com")))
      .otherwise(lit("")),
    when(col("event_id") % 2 === 0,
      concat(lit(" ip=10."), (col("event_id") % 223).cast("string"),
        lit("."), (col("user_id") % 251).cast("string"),
        lit("."), (col("event_id") % 199).cast("string")))
      .otherwise(lit("")),
    when(col("event_id") % 5 < 2,
      concat(lit(" phone=+1"),
        lpad((col("event_id") % 1000000000L).cast("string"), 9, "0")))
      .otherwise(lit("")),
    lit(" type="), col("event_type"))

  /** PII scrub + audit: per event type, how many of each PII class were
    * found, and a portable hash-sum pinning every BYTE of the redacted
    * output (so a mask that eats one character too many flips the gate).
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadSpread(s, dir, "events")
    ev.select(col("event_type"), logLine.as("line"))
      .select(col("event_type"),
        size(regexp_extract_all(col("line"), lit(EmailRe), lit(0))).as("n_email"),
        size(regexp_extract_all(col("line"), lit(Ipv4Re), lit(0))).as("n_ip"),
        size(regexp_extract_all(col("line"), lit(PhoneRe), lit(0))).as("n_phone"),
        redactPii(col("line")).as("r"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("n_email").cast("long")).as("n_email"),
        sum(col("n_ip").cast("long")).as("n_ip"),
        sum(col("n_phone").cast("long")).as("n_phone"),
        sum(Portable.md5Int(col("r").cast("binary"))).as("redacted_md5_sum"))
  }

  private val piiRedactSql =
    s"""WITH lines AS (
      |  SELECT event_type,
      |    'uid=' || CAST(user_id AS VARCHAR)
      |    || CASE WHEN user_id % 3 <> 0 THEN ' email=u' || CAST(user_id AS VARCHAR) || '@ex' || CAST(event_id % 7 AS VARCHAR) || '.com' ELSE '' END
      |    || CASE WHEN event_id % 2 = 0 THEN ' ip=10.' || CAST(event_id % 223 AS VARCHAR) || '.' || CAST(user_id % 251 AS VARCHAR) || '.' || CAST(event_id % 199 AS VARCHAR) ELSE '' END
      |    || CASE WHEN event_id % 5 < 2 THEN ' phone=+1' || lpad(CAST(event_id % 1000000000 AS VARCHAR), 9, '0') ELSE '' END
      |    || ' type=' || event_type AS line
      |  FROM events),
      |red AS (
      |  SELECT event_type,
      |    len(regexp_extract_all(line, '$EmailRe')) AS n_email,
      |    len(regexp_extract_all(line, '$Ipv4Re')) AS n_ip,
      |    len(regexp_extract_all(line, '$PhoneRe')) AS n_phone,
      |    regexp_replace(regexp_replace(regexp_replace(line,
      |      '$EmailRe', '<EMAIL>', 'g'),
      |      '$Ipv4Re', '<IP>', 'g'),
      |      '$PhoneRe', '<PHONE>', 'g') AS r
      |  FROM lines)
      |SELECT event_type, count(*) AS n_events,
      |       CAST(sum(n_email) AS BIGINT) AS n_email,
      |       CAST(sum(n_ip) AS BIGINT) AS n_ip,
      |       CAST(sum(n_phone) AS BIGINT) AS n_phone,
      |       CAST(sum(${Portable.md5IntSql("r")}) AS BIGINT) AS redacted_md5_sum
      |FROM red GROUP BY event_type""".stripMargin

  /** Source-mixture rebalancing: deterministically downsample each language
    * stratum to (approximately) the smallest stratum's size — the standard
    * "flatten the mixture" step before weighting a pretraining corpus.
    * Thresholds are exact integer arithmetic (`1000*min DIV n`), membership
    * is the portable hash coin, so both engines keep literally the same
    * documents. Output: per-stratum before-count, acceptance threshold
    * (permille), and kept-count.
    */
  def mixtureRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val cnt = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
    val minCnt = cnt.agg(min(col("n_before")).as("n_min"))
    val th = cnt.crossJoin(broadcast(minCnt))
      .select(col("lang"), col("n_before"),
        expr("1000 * n_min DIV n_before").as("threshold"))
    val kept = docs.join(broadcast(th.select("lang", "threshold")), "lang")
      .where(Portable.md5Int(col("doc_id").cast("string").cast("binary")) % 1000 < col("threshold"))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    th.join(broadcast(kept), Seq("lang"), "left")
      .select(col("lang"), col("n_before"), col("threshold"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  private val mixtureRebalanceSql =
    s"""WITH cnt AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
      |m AS (SELECT min(n_before) AS n_min FROM cnt),
      |th AS (SELECT lang, n_before, (1000 * m.n_min) // n_before AS threshold FROM cnt, m),
      |kept AS (
      |  SELECT d.lang AS lang FROM documents d JOIN th ON d.lang = th.lang
      |  WHERE ${Portable.md5IntSql("CAST(d.doc_id AS VARCHAR)")} % 1000 < th.threshold),
      |kc AS (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang)
      |SELECT th.lang, th.n_before, th.threshold, COALESCE(kc.n_kept, 0) AS n_kept
      |FROM th LEFT JOIN kc ON th.lang = kc.lang""".stripMargin

  /** Model-scored quality filtering: a fixed linear classifier (the shape of
    * a fastText/logreg quality gate) over exact integer token features —
    * logit = 0.01·(n_tokens−40) + 3·(stop_ratio−0.08) + 2·(distinct_ratio−0.5),
    * spelled as three integer-numerator rational terms so each is ONE
    * correctly-rounded double division (the CLAUDE.md rational-form rule:
    * +,−,×,÷ are IEEE-exact in both engines, so keep/drop decisions and the
    * floor-scaled logit sum are bit-identical cross-engine — no libm, no
    * decimal-literal ambiguity). Weights are inlined constants standing in
    * for a trained model's.
    *
    * Scale notes (100 TB posture): narrow per-row scoring in codegen + one
    * low-cardinality accounting aggregate; the real model would swap the
    * linear form for a broadcast weight vector over hashed n-gram features —
    * same plan shape.
    */
  /** the model logit over (n_tokens, n_stop, n_distinct) columns — shared by
    * [[qualityModelFilter]] and [[Curation.trainReady]]; [[logitSql]] is the
    * same formula verbatim for oracles
    */
  private[llm] val logitCol: Column =
    (col("n_tokens") - lit(40)) / lit(100) +
      (lit(300) * col("n_stop") - lit(24) * col("n_tokens")) / (lit(100) * col("n_tokens")) +
      (lit(200) * col("n_distinct") - lit(100) * col("n_tokens")) / (lit(100) * col("n_tokens"))

  private[llm] val logitSql: String =
    "(n_tokens - 40) / 100" +
      " + (300 * n_stop - 24 * n_tokens) / (100 * n_tokens)" +
      " + (200 * n_distinct - 100 * n_tokens) / (100 * n_tokens)"

  /** the three integer features the logit reads, from a `tokens` column */
  private[llm] def featureCols: Seq[Column] = Seq(
    size(col("tokens")).as("n_tokens"),
    expr(s"size(filter(tokens, t -> array_contains(${TextStats.stopwords.mkString("array('", "', '", "')")}, t)))")
      .as("n_stop"),
    size(array_distinct(col("tokens"))).as("n_distinct"))

  private[llm] val featureSql: String =
    s"len(tokens) AS n_tokens, " +
      s"len(list_filter(tokens, t -> list_contains(${TextStats.stopwords.mkString("['", "', '", "']")}, t))) AS n_stop, " +
      s"len(list_distinct(tokens)) AS n_distinct"

  def qualityModelFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), col("source"), TextStats.tokensCol.as("tokens"))
      .select(col("doc_id") +: col("source") +: featureCols: _*)
      .where(col("n_tokens") > 0)
    docs.select(col("source"), logitCol.as("logit"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("logit") > 0.0, 1L).otherwise(0L)).as("n_kept"),
        sum(floor(col("logit") * 1000)).as("logit_millis"))
  }

  private val qualityModelFilterSql =
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS tokens
      |  FROM documents),
      |f AS (
      |  SELECT source, $featureSql
      |  FROM t WHERE len(tokens) > 0),
      |sc AS (
      |  SELECT source, $logitSql AS logit
      |  FROM f)
      |SELECT source, count(*) AS n_docs,
      |       CAST(count(*) FILTER (WHERE logit > 0.0) AS BIGINT) AS n_kept,
      |       CAST(sum(CAST(floor(logit * 1000) AS BIGINT)) AS BIGINT) AS logit_millis
      |FROM sc GROUP BY source""".stripMargin

  /** Disparate-impact fairness audit of the quality model: per-source pass
    * rates under the SAME logit [[qualityModelFilter]] ships, plus each
    * source's selection ratio vs the best-treated source
    * (`rate·1e6 div max_rate`, computed on the floored integer rates) and
    * the four-fifths-rule flag (ratio < 0.8 ⇒ the filter disparately
    * suppresses that source — the EEOC 80% test applied to data curation,
    * where "source" is the protected-attribute analogue). An automated
    * quality filter that silently drops one source's dialect is a mixture
    * bug AND a fairness bug; this is the one-pass audit that catches it.
    *
    * 100 TB shape: one conditional-aggregate pass to source-domain rows;
    * the max rate is a broadcast 1-row aggregate. `greatest(max,1)` keeps
    * the ratio total (all-zero rates → all ratios 0) without a divide guard
    * in either engine.
    */
  def fairnessAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), col("source"), TextStats.tokensCol.as("tokens"))
      .select(col("doc_id") +: col("source") +: featureCols: _*)
      .where(col("n_tokens") > 0)
    val rates = docs.select(col("source"), logitCol.as("logit"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("logit") > 0.0, 1L).otherwise(0L)).as("n_pass"))
      .withColumn("rate_ppm", expr("n_pass * 1000000 div n_docs"))
    val mx = rates.agg(max(col("rate_ppm")).as("max_rate_ppm"))
    rates.crossJoin(broadcast(mx))
      .withColumn("di_ppm",
        expr("rate_ppm * 1000000 div greatest(max_rate_ppm, 1)"))
      .withColumn("below_80pct",
        when(col("di_ppm") < 800000L, 1L).otherwise(0L))
      .select("source", "n_docs", "n_pass", "rate_ppm", "di_ppm", "below_80pct")
      .orderBy("source")
  }

  private val fairnessAuditSql =
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS tokens
      |  FROM documents),
      |f AS (SELECT source, $featureSql FROM t WHERE len(tokens) > 0),
      |sc AS (SELECT source, $logitSql AS logit FROM f),
      |rates AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(count(*) FILTER (WHERE logit > 0.0) AS BIGINT) AS n_pass,
      |         CAST(count(*) FILTER (WHERE logit > 0.0) AS BIGINT) * 1000000
      |           // CAST(count(*) AS BIGINT) AS rate_ppm
      |  FROM sc GROUP BY source),
      |mx AS (SELECT CAST(max(rate_ppm) AS BIGINT) AS max_rate_ppm FROM rates)
      |SELECT source, n_docs, n_pass, rate_ppm,
      |       rate_ppm * 1000000 // greatest(max_rate_ppm, 1) AS di_ppm,
      |       CAST(CASE WHEN rate_ppm * 1000000 // greatest(max_rate_ppm, 1) < 800000
      |                 THEN 1 ELSE 0 END AS BIGINT) AS below_80pct
      |FROM rates CROSS JOIN mx
      |ORDER BY source""".stripMargin

  /** Data-quality expectations (the Deequ/Great-Expectations pattern): a
    * rule set evaluated in ONE pass of conditional aggregates — null-check,
    * uniqueness, domain membership, range — then unpivoted to a row per
    * rule. A validation engine that re-scanned per rule would be O(rules)
    * table passes; this is O(1) passes for any number of algebraic rules.
    *
    * Scale notes (100 TB posture): all rules ride the same map-side partial
    * aggregate (a handful of longs per task); uniqueness is the only rule
    * needing a shuffle and it shares the one exchange. Output is
    * metadata-scale (rows = rules).
    */
  def dqExpectations(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val one = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_key"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_key"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("bad_price"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("bad_status"),
      sum(when(col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2005-01-01").cast("timestamp"), 1L).otherwise(0L))
        .as("bad_date"))
    one.select(explode(array(
      struct(lit("orderkey_not_null").as("rule"), col("n").as("n_checked"),
        col("null_key").as("n_violations")),
      struct(lit("orderkey_unique").as("rule"), col("n").as("n_checked"),
        col("dup_key").as("n_violations")),
      struct(lit("price_positive").as("rule"), col("n").as("n_checked"),
        col("bad_price").as("n_violations")),
      struct(lit("status_in_domain").as("rule"), col("n").as("n_checked"),
        col("bad_status").as("n_violations")),
      struct(lit("date_in_range").as("rule"), col("n").as("n_checked"),
        col("bad_date").as("n_violations")))).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_checked").as("n_checked"),
        col("r.n_violations").as("n_violations"))
  }

  private val dqExpectationsSql =
    """WITH a AS (
      |  SELECT count(*) AS n,
      |         CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS null_key,
      |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_key,
      |         CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS bad_price,
      |         CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) AS bad_status,
      |         CAST(count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
      |                                  OR o_orderdate >= TIMESTAMP '2005-01-01') AS BIGINT) AS bad_date
      |  FROM orders)
      |SELECT 'orderkey_not_null' AS rule, n AS n_checked, null_key AS n_violations FROM a
      |UNION ALL SELECT 'orderkey_unique', n, dup_key FROM a
      |UNION ALL SELECT 'price_positive', n, bad_price FROM a
      |UNION ALL SELECT 'status_in_domain', n, bad_status FROM a
      |UNION ALL SELECT 'date_in_range', n, bad_date FROM a""".stripMargin

  /** perceptron training rounds */
  val PtRounds = 3

  /** Distributed TRAINING of a linear quality/language classifier — batch
    * perceptron over integer features, [[PtRounds]] fixed rounds, the
    * classifier-training twin of the oracle-replayed k-means
    * ([[Similarity.kmeansTrain]]): lr = 1 and integer features keep the
    * whole weight trajectory in exact 64-bit arithmetic, so every round's
    * misclassified count and updated weight vector replays bit-for-bit in
    * DuckDB (a logistic formulation could never hash-gate — exp/log differ
    * in the last ulp across libms). Label: `lang = 'en'` vs rest; features:
    * bias, token count, n_chars/10, stopword hits. The TRAJECTORY is the
    * contract (exactly as [[Similarity.kmeansTrain]] pins Lloyd's path, not
    * optimality): on the synthetic corpus the classes are near-inseparable
    * (stopword rates barely differ by lang), so lr = 1 batch updates reduce
    * error after the zero-init round and then oscillate — the spec pins the
    * reduction and that round 1 counts everything misclassified.
    *
    * 100 TB posture: the feature build is one narrow pass (cached — 4 longs
    * a row); each round is ONE map-side-combined aggregate producing 5
    * scalars (count + 4 gradient sums) against driver-held weights, the
    * same shape as a production distributed-SGD epoch with batch = corpus.
    * Rounds are driver-sequenced like Lloyd iterations; nothing vertex- or
    * vocabulary-sized ever shuffles.
    */
  /** the perceptron's 4-feature design matrix over documents — a shared
    * memo: every perceptron round, the calibration and the AUC read it
    */
  private def ptFeatures(s: SparkSession, dir: String): DataFrame =
    ptFeaturesCache(dir) { d =>
      Tables.loadSpread(s, d, "documents")
        .select(
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          lit(1L).as("x1"),
          size(TextStats.tokensCol).cast("long").as("x2"),
          expr("n_chars div 10").as("x3"),
          size(filter(TextStats.tokensCol, t => t.isInCollection(TextStats.stopwords)))
            .cast("long").as("x4"))
    }

  private val ptFeaturesCache = graft.Memo.base()

  /** [[PtRounds]] epochs of the integer batch perceptron: per-round
    * (misclassified count, post-update weights). Shared by
    * [[perceptronTrain]] (emits the trajectory) and [[modelAuc]] (evaluates
    * the FINAL weights).
    */
  private def ptTrajectory(
      s: SparkSession, dir: String): Seq[(Int, Long, Array[Long])] = {
    val feats = ptFeatures(s, dir)
    var w = Array(0L, 0L, 0L, 0L)
    val out = Seq.newBuilder[(Int, Long, Array[Long])]
    (1 to PtRounds).foreach { r =>
      val margin = s"y * (${w(0)}L * x1 + ${w(1)}L * x2 + ${w(2)}L * x3 + ${w(3)}L * x4)"
      val row = feats.agg(
        sum(expr(s"CASE WHEN $margin <= 0 THEN 1L ELSE 0L END")).as("n_mis"),
        sum(expr(s"CASE WHEN $margin <= 0 THEN y * x1 ELSE 0L END")).as("g1"),
        sum(expr(s"CASE WHEN $margin <= 0 THEN y * x2 ELSE 0L END")).as("g2"),
        sum(expr(s"CASE WHEN $margin <= 0 THEN y * x3 ELSE 0L END")).as("g3"),
        sum(expr(s"CASE WHEN $margin <= 0 THEN y * x4 ELSE 0L END")).as("g4"))
        .collect().head
      w = Array(w(0) + row.getLong(1), w(1) + row.getLong(2),
        w(2) + row.getLong(3), w(3) + row.getLong(4))
      out += ((r, row.getLong(0), w.clone()))
    }
    out.result()
  }

  def perceptronTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ptTrajectory(s, dir)
      .map { case (r, mis, w) => (r, mis, w(0), w(1), w(2), w(3)) }
      .toDF("round", "n_mis", "w_bias", "w_tokens", "w_chars10", "w_stop")
  }

  /** oracle CTE chain replaying the whole perceptron: features `f` and the
    * round states `g1..g[[PtRounds]]` — shared by the training-trajectory
    * and the AUC-evaluation oracles.
    */
  private def ptCtes: String = {
    val stopList = TextStats.stopwords.mkString("['", "', '", "']")
    def round(n: Int): String = {
      val (pw1, pw2, pw3, pw4) =
        if (n == 1) ("0", "0", "0", "0")
        else (s"g${n - 1}.w1", s"g${n - 1}.w2", s"g${n - 1}.w3", s"g${n - 1}.w4")
      val prev = if (n == 1) "" else s", g${n - 1}"
      val margin = s"y * ($pw1 * x1 + $pw2 * x2 + $pw3 * x3 + $pw4 * x4)"
      val grp = if (n == 1) "" else s" GROUP BY $pw1, $pw2, $pw3, $pw4"
      s"""g$n AS (
        |  SELECT
        |    CAST(sum(CASE WHEN $margin <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mis,
        |    $pw1 + CAST(sum(CASE WHEN $margin <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
        |    $pw2 + CAST(sum(CASE WHEN $margin <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS w2,
        |    $pw3 + CAST(sum(CASE WHEN $margin <= 0 THEN y * x3 ELSE 0 END) AS BIGINT) AS w3,
        |    $pw4 + CAST(sum(CASE WHEN $margin <= 0 THEN y * x4 ELSE 0 END) AS BIGINT) AS w4
        |  FROM f$prev$grp)""".stripMargin
    }
    s"""t AS (
      |  SELECT lang, n_chars,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS toks
      |  FROM documents),
      |f AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
      |         1 AS x1,
      |         CAST(len(toks) AS BIGINT) AS x2,
      |         n_chars // 10 AS x3,
      |         CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS BIGINT) AS x4
      |  FROM t),
      |${(1 to PtRounds).map(round).mkString(",\n")}""".stripMargin
  }

  private lazy val perceptronTrainSql =
    s"""WITH $ptCtes
      |SELECT * FROM (
      |  ${(1 to PtRounds).map(n =>
           s"SELECT $n AS round, n_mis, w1 AS w_bias, w2 AS w_tokens, w3 AS w_chars10, w4 AS w_stop FROM g$n")
          .mkString("\n  UNION ALL ")}
      |) ORDER BY round""".stripMargin

  /** Exact AUC of the trained perceptron's decision score — the evaluation
    * half of the train→eval loop, as the Mann-Whitney rank statistic:
    * with average ranks over score ties,
    *   2U = Σ_{y=1} 2·rank(sᵢ) − n⁺(n⁺+1),   AUC = U / (n⁺·n⁻).
    * Doubled ranks keep everything integer (a tie group starting after
    * `cumb` rows of `c` members has 2·avgrank = 2·cumb + c + 1); the only
    * float op is the final division, floor-1e6'd. Rank arithmetic runs on
    * the SCORE HISTOGRAM (one hash aggregate + a cumulative window over
    * distinct scores — NDV-bounded state, never a sort of the corpus), so
    * the whole metric hash-gates cross-engine: a classic eval metric with
    * no sampling and no engine-specific internals.
    */
  def modelAuc(s: SparkSession, dir: String): DataFrame = {
    val w = ptTrajectory(s, dir).last._3
    val sc = ptFeatures(s, dir).select(col("y"),
      (lit(w(0)) * col("x1") + lit(w(1)) * col("x2") +
        lit(w(2)) * col("x3") + lit(w(3)) * col("x4")).as("s"))
    val hist = sc.groupBy("s").agg(
      count(lit(1)).as("c"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("cp"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist
      .withColumn("cumb", coalesce(sum(col("c")).over(wOrd), lit(0L)))
      .agg(
        sum(col("cp") * (lit(2L) * col("cumb") + col("c") + lit(1L))).as("sum2r_pos"),
        sum(col("cp")).as("n_pos"),
        sum(col("c") - col("cp")).as("n_neg"))
      .select(
        col("n_pos"), col("n_neg"),
        (col("sum2r_pos") - col("n_pos") * (col("n_pos") + lit(1L))).as("u2"),
        floor((col("sum2r_pos") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double") * lit(1000000))
          .cast("long").as("auc_e6"))
  }

  /** ROC operating points of the trained perceptron — the threshold table
    * behind [[modelAuc]]'s single number: for every distinct score s
    * (predict positive iff score ≥ s), the exact confusion counts and
    * TPR/FPR/precision as integer ppm. Score NDV is feature-domain-bounded,
    * so the whole curve is a histogram-sized relation; this is the table a
    * deployment reads to PICK its threshold, where AUC only says the model
    * ranks well.
    */
  def modelRoc(s: SparkSession, dir: String): DataFrame = {
    val w = ptTrajectory(s, dir).last._3
    val sc = ptFeatures(s, dir).select(col("y"),
      (lit(w(0)) * col("x1") + lit(w(1)) * col("x2") +
        lit(w(2)) * col("x3") + lit(w(3)) * col("x4")).as("s"))
    val hist = sc.groupBy("s").agg(
      count(lit(1)).as("c"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("cp"))
    val wDesc = org.apache.spark.sql.expressions.Window.orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = hist.agg(sum(col("cp")).as("n_pos"), sum(col("c") - col("cp")).as("n_neg"))
    hist
      .withColumn("tp", sum(col("cp")).over(wDesc))
      .withColumn("pp", sum(col("c")).over(wDesc))
      .crossJoin(broadcast(tot))
      .select(col("s").as("threshold"),
        col("tp"), (col("pp") - col("tp")).as("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        (col("n_neg") - (col("pp") - col("tp"))).as("tn"),
        expr("tp * 1000000 div n_pos").as("tpr_ppm"),
        expr("(pp - tp) * 1000000 div n_neg").as("fpr_ppm"),
        expr("tp * 1000000 div pp").as("prec_ppm"))
      .orderBy(col("threshold").desc)
  }

  private lazy val modelRocSql =
    s"""WITH $ptCtes,
      |sc AS (
      |  SELECT y, g$PtRounds.w1 * x1 + g$PtRounds.w2 * x2
      |            + g$PtRounds.w3 * x3 + g$PtRounds.w4 * x4 AS s
      |  FROM f, g$PtRounds),
      |hist AS (
      |  SELECT s, CAST(count(*) AS BIGINT) AS c,
      |         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cp
      |  FROM sc GROUP BY s),
      |cum AS (
      |  SELECT s, c, cp,
      |         CAST(sum(cp) OVER (ORDER BY s DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
      |         CAST(sum(c) OVER (ORDER BY s DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp
      |  FROM hist),
      |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
      |               CAST(sum(c - cp) AS BIGINT) AS n_neg FROM hist)
      |SELECT s AS threshold, tp, pp - tp AS fp, n_pos - tp AS fn,
      |       n_neg - (pp - tp) AS tn,
      |       tp * 1000000 // n_pos AS tpr_ppm,
      |       (pp - tp) * 1000000 // n_neg AS fpr_ppm,
      |       tp * 1000000 // pp AS prec_ppm
      |FROM cum CROSS JOIN tot
      |ORDER BY threshold DESC""".stripMargin

  private lazy val modelAucSql =
    s"""WITH $ptCtes,
      |sc AS (
      |  SELECT y, g$PtRounds.w1 * x1 + g$PtRounds.w2 * x2
      |            + g$PtRounds.w3 * x3 + g$PtRounds.w4 * x4 AS s
      |  FROM f, g$PtRounds),
      |hist AS (
      |  SELECT s, count(*) AS c,
      |         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cp
      |  FROM sc GROUP BY s),
      |r AS (
      |  SELECT s, c, cp,
      |         coalesce(CAST(sum(c) OVER (ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
      |  FROM hist),
      |agg AS (
      |  SELECT CAST(sum(cp * (2 * cumb + c + 1)) AS BIGINT) AS sum2r_pos,
      |         CAST(sum(cp) AS BIGINT) AS n_pos,
      |         CAST(sum(c - cp) AS BIGINT) AS n_neg
      |  FROM r)
      |SELECT n_pos, n_neg,
      |       CAST(sum2r_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
      |       CAST(floor(CAST(sum2r_pos - n_pos * (n_pos + 1) AS DOUBLE)
      |                  / CAST(2 * n_pos * n_neg AS DOUBLE) * 1000000) AS BIGINT) AS auc_e6
      |FROM agg""".stripMargin

  /** anonymity threshold: a quasi-identifier group smaller than this is a
    * re-identification risk
    */
  val KAnonK = 5

  /** k-anonymity audit over the customer dimension — the release-gate check
    * a training-data compliance pass runs before shipping a corpus that
    * joins against user attributes: group by the quasi-identifier tuple
    * (nation, market segment) and report, per segment, how many QI groups
    * fall below [[KAnonK]] members and how many rows they would suppress
    * (the rows a k-anonymizing release must drop or generalize). Everything
    * is exact integer accounting.
    *
    * 100 TB shape: a two-level aggregate — groupBy(QI) collapses map-side to
    * one row per group (bounded by QI cardinality, not table size), then the
    * per-segment reduce is trivial. No Expand, no joins.
    */
  def kAnonAudit(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("n") < KAnonK, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("n") < KAnonK, col("n")).otherwise(0L)).as("n_suppressed_rows"),
        min(col("n")).as("min_group_size"))

  private val kAnonAuditSql =
    s"""WITH g AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY 1, 2)
      |SELECT c_mktsegment, count(*) AS n_groups,
      |       CAST(sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
      |       CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT) AS n_suppressed_rows,
      |       CAST(min(n) AS BIGINT) AS min_group_size
      |FROM g GROUP BY c_mktsegment""".stripMargin

  /** erasure cohort: user_ids divisible by this (deterministic, non-empty
    * at every SF since events.user_id covers 0-149)
    */
  val ErasureMod = 37

  private val erased = graft.Scratch.fixture[String]("graft_gdpr", "events_log")

  /** replay a right-to-be-forgotten request through the table log, memoized
    * per data dir: v0 commits the full events extract, v1 overwrites it with
    * the erasure cohort's rows removed. Returns the table path. The path
    * carries the JVM's pid: two concurrent processes (sbt test alongside a
    * Verify run) must never interleave the delete + two commits on a shared
    * log directory.
    */
  private[graft] def erasureLog(s: SparkSession, dir: String): String =
    erased(dir) { root =>
      val table = root + "/events_log"
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      graft.sources.TableLog.commitOverwrite(ev, table)
      graft.sources.TableLog.commitOverwrite(
        ev.where(col("user_id") % ErasureMod =!= 0), table)
      table
    }

  /** GDPR erasure with audit: delete every event of the requested user
    * cohort by publishing a NEW table-log version (the physical-rewrite
    * deletion a right-to-be-forgotten request requires — a tombstone mask
    * would leave the data on disk), then emit the per-version audit the
    * DPO signs off on: row/user counts and an id-sum fingerprint proving
    * the non-erased rows are byte-identical. Version 0 remains
    * time-travelable until a [[graft.sources.TableLog.vacuum]] reclaims it
    * — the audit trail and the retention clock the regulation actually
    * asks for.
    *
    * 100 TB shape: the rewrite is one pushed-filter scan + write (no
    * shuffle); on a partitioned production table only partitions containing
    * cohort rows rewrite (the BatchIngest dynamic-overwrite path). The
    * audit is a 2-version scan-adjacent aggregate.
    */
  def gdprErasure(s: SparkSession, dir: String): DataFrame = {
    val table = erasureLog(s, dir)
    def audit(v: Long): DataFrame =
      graft.sources.TableLog.read(s, table, Some(v)).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("id_sum"),
        sum(when(col("user_id") % ErasureMod === 0, 1L).otherwise(0L))
          .as("n_cohort_rows"))
        .select(lit(v).as("version"), col("n_events"), col("n_users"),
          col("id_sum"), col("n_cohort_rows"))
    audit(0L).unionByName(audit(1L))
  }

  private val gdprErasureSql =
    s"""SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       CAST(sum(event_id) AS BIGINT) AS id_sum,
      |       CAST(sum(CASE WHEN user_id % $ErasureMod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cohort_rows
      |FROM events
      |UNION ALL
      |SELECT 1, count(*), count(DISTINCT user_id), CAST(sum(event_id) AS BIGINT), 0
      |FROM events WHERE user_id % $ErasureMod <> 0""".stripMargin

  /** Distribution-drift detection between two time epochs of the event
    * stream — the monitoring gate a production data pipeline runs before
    * admitting a new ingest window into training. Pearson's chi-square over
    * the event_type × epoch contingency table, with the epoch boundary
    * derived from the data (integer midpoint of the epoch-micros range, so
    * the query never goes degenerate when the driver regenerates testdata).
    *
    * Cross-engine exactness: each cell's statistic is
    * `(o·N − rt·ct)² / (rt·ct·N)` — the rational form of (o−e)²/e scaled by
    * N — where o·N, rt·ct (≤1e10) and rt·ct·N (≤1e15) are EXACT int64
    * products; the square and the division are two correctly-rounded double
    * ops, and each term is floor-1e9 integerized BEFORE summation so the
    * total never depends on float summation order. Scale: the shuffle is
    * one (type, epoch) hash aggregate; everything after runs on a ≤10-row
    * relation with broadcast totals.
    */
  def driftChi2(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val mid = ev.agg(((min(col("us")) + max(col("us"))) / lit(2L)).cast("long").as("mid"))
    // keep the ≤(types×2)-row contingency table: five consumers (row /
    // column / grand totals, the scored join, the final agg) would each
    // otherwise replay the full event scan — at 100 TB that is the whole
    // query cost ×5. Canonical-plan dedup keeps this one entry per dataset.
    val cells = keep(ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"), (col("us") < col("mid")).as("early"))
      .agg(count(lit(1)).as("o")))
    val rt = cells.groupBy("event_type").agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy("early").agg(sum(col("o")).as("ct"))
    val nn = cells.agg(sum(col("o")).as("nn"))
    val num = col("o") * col("nn") - col("rt") * col("ct")
    val den = (col("rt") * col("ct") * col("nn")).cast("double")
    val term = when(den > 0,
      floor(num.cast("double") * num.cast("double") / den * lit(1000000000L))
        .cast("long")).otherwise(0L)
    val scored = cells.join(rt, "event_type").join(ct, "early")
      .crossJoin(broadcast(nn))
      .select(col("event_type"), col("early"), col("o"), term.as("term_e9"))
    val total = scored.agg(sum(col("term_e9")).as("chi2_total_e9"))
    scored.groupBy("event_type")
      .agg(
        sum(when(col("early"), col("o")).otherwise(0L)).as("n_early"),
        sum(when(!col("early"), col("o")).otherwise(0L)).as("n_late"),
        sum(col("term_e9")).as("chi2_type_e9"))
      .crossJoin(broadcast(total))
  }

  private val driftChi2Sql =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |mid AS (
      |  SELECT CAST((CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT)) // 2 AS BIGINT) AS mid
      |  FROM ev),
      |cells AS (
      |  SELECT event_type, us < mid AS early, count(*) AS o
      |  FROM ev, mid GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT early, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
      |scored AS (
      |  SELECT c.event_type, c.early, c.o,
      |         CASE WHEN rt * ct * nn > 0 THEN
      |           CAST(floor(
      |             CAST(o * nn - rt * ct AS DOUBLE) * CAST(o * nn - rt * ct AS DOUBLE)
      |               / CAST(rt * ct * nn AS DOUBLE) * 1000000000) AS BIGINT)
      |         ELSE 0 END AS term_e9
      |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (early), nn),
      |tot AS (SELECT CAST(sum(term_e9) AS BIGINT) AS chi2_total_e9 FROM scored)
      |SELECT event_type,
      |       CAST(sum(CASE WHEN early THEN o ELSE 0 END) AS BIGINT) AS n_early,
      |       CAST(sum(CASE WHEN NOT early THEN o ELSE 0 END) AS BIGINT) AS n_late,
      |       CAST(sum(term_e9) AS BIGINT) AS chi2_type_e9,
      |       chi2_total_e9
      |FROM scored, tot
      |GROUP BY event_type, chi2_total_e9""".stripMargin

  /** Referential-integrity audit across the star schema — the data-quality
    * sweep a warehouse runs after every load: for each declared FK edge,
    * exact child-row / orphan-row / distinct-orphan-key accounting via
    * LEFT ANTI joins (parent key sets broadcast when dimension-sized). An
    * orphan count > 0 is the earliest signal of a broken upstream extract;
    * the audit is pure integer accounting, hash-gated cross-engine.
    */
  def riAudit(s: SparkSession, dir: String): DataFrame = {
    val edges = Seq(
      ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ("events.user_id -> customer", "events", "user_id", "customer", "c_custkey"))
    edges.map { case (label, ct, ck, pt, pk) =>
      // null FKs are a different defect class (dq_expectations); exclude
      // them so anti-join and NOT IN agree on the orphan definition.
      // ONE child scan per edge: collapse to per-key counts first (map-side
      // combined), then a broadcast left join marks parent hits and a plain
      // final aggregate derives all three counts — no second scan, and no
      // countDistinct mixed with plain sums (the Expand plan).
      val child = Tables.load(s, dir, ct)
        .select(col(ck).as("k")).where(col("k").isNotNull)
      val parent = Tables.load(s, dir, pt)
        .select(col(pk).as("k")).distinct().withColumn("hit", lit(1))
      child.groupBy("k").agg(count(lit(1)).as("cnt"))
        .join(broadcast(parent), Seq("k"), "left")
        .agg(
          sum(col("cnt")).as("n_child"),
          sum(when(col("hit").isNull, col("cnt")).otherwise(0L)).as("n_orphan_rows"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphan_keys"))
        .select(lit(label).as("fk_edge"), col("n_child"),
          col("n_orphan_rows"), col("n_orphan_keys"))
    }.reduce(_.union(_))
  }

  private val riAuditSql = {
    def leg(label: String, ct: String, ck: String, pt: String, pk: String) =
      s"""SELECT '$label' AS fk_edge,
        |       (SELECT count(*) FROM $ct WHERE $ck IS NOT NULL) AS n_child,
        |       (SELECT count(*) FROM $ct WHERE $ck IS NOT NULL
        |        AND $ck NOT IN (SELECT $pk FROM $pt WHERE $pk IS NOT NULL)) AS n_orphan_rows,
        |       (SELECT count(DISTINCT $ck) FROM $ct WHERE $ck IS NOT NULL
        |        AND $ck NOT IN (SELECT $pk FROM $pt WHERE $pk IS NOT NULL)) AS n_orphan_keys""".stripMargin
    Seq(
      leg("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      leg("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
      leg("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      leg("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      leg("events.user_id -> customer", "events", "user_id", "customer", "c_custkey"))
      .mkString("\nUNION ALL\n")
  }

  /** l-diversity threshold: a QI group whose sensitive attribute takes
    * fewer than this many distinct values is homogeneity-attackable even
    * when k-anonymous
    */
  val LDivL = 3

  /** l-diversity audit — the homogeneity-attack companion of
    * [[kAnonAudit]]: k-anonymity only bounds group SIZE; if everyone in a
    * 5-member QI group shares the same sensitive value, membership alone
    * discloses it. Per QI group (nation, market segment) count the DISTINCT
    * sensitive-attribute values (account-balance band, $2500 buckets via a
    * portable floor of one correctly-rounded division — bands can be
    * negative, so never integer `div`), then report per segment how many
    * groups fall below [[LDivL]]-diversity and how many rows sit in them.
    *
    * 100 TB shape: a SINGLE distinct aggregate per group — the two-level
    * HashAggregate rewrite, no Expand (CLAUDE.md's mixing rule); state is
    * QI-cardinality-bounded.
    */
  def lDiversityAudit(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(floor(col("c_acctbal") * 100).cast("long") / lit(250000.0))
          .cast("long").as("band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count_distinct(col("band")).as("ldiv"), count(lit(1)).as("n"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("ldiv") < LDivL, 1L).otherwise(0L)).as("n_low_div_groups"),
        sum(when(col("ldiv") < LDivL, col("n")).otherwise(0L)).as("n_rows_at_risk"),
        min(col("ldiv")).as("min_diversity"))

  private val lDiversityAuditSql =
    s"""WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(count(DISTINCT CAST(floor(CAST(floor(c_acctbal * 100) AS BIGINT) / 250000.0) AS BIGINT)) AS BIGINT) AS ldiv,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM customer GROUP BY 1, 2)
      |SELECT c_mktsegment, count(*) AS n_groups,
      |       CAST(sum(CASE WHEN ldiv < $LDivL THEN 1 ELSE 0 END) AS BIGINT) AS n_low_div_groups,
      |       CAST(sum(CASE WHEN ldiv < $LDivL THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |       CAST(min(ldiv) AS BIGINT) AS min_diversity
      |FROM g GROUP BY c_mktsegment""".stripMargin

  /** calibration deciles */
  val CalBins = 10

  /** Reliability diagram of the trained perceptron: rank-decile score bins
    * (a score group's doubled midrank 2·cumb+c places the WHOLE group in
    * one bin — deterministic under ties), each with its observed positive
    * rate and floor-mean score. A well-calibrated monotone scorer shows
    * pos_rate_ppm non-decreasing in bin — the eval every score-thresholding
    * curation filter ([[qualityModelFilter]]) should be read against.
    * Mean score uses the pmod floor-division identity (score sums can be
    * negative; `div` truncation would diverge from the oracle's `//`).
    *
    * 100 TB shape: same histogram discipline as [[modelAuc]] — all rank
    * arithmetic on the NDV-bounded score histogram, never a corpus sort.
    */
  def modelCalibration(s: SparkSession, dir: String): DataFrame = {
    val w = ptTrajectory(s, dir).last._3
    val sc = ptFeatures(s, dir).select(col("y"),
      (lit(w(0)) * col("x1") + lit(w(1)) * col("x2") +
        lit(w(2)) * col("x3") + lit(w(3)) * col("x4")).as("s"))
    val hist = sc.groupBy("s").agg(
      count(lit(1)).as("c"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("cp"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist
      .withColumn("cumb", coalesce(sum(col("c")).over(wOrd), lit(0L)))
      .crossJoin(broadcast(hist.agg(sum(col("c")).as("nt"))))
      .withColumn("bin", expr(s"((2 * cumb + c) * $CalBins) div (2 * nt)"))
      .groupBy(col("bin"))
      .agg(sum(col("c")).as("n"), sum(col("cp")).as("n_pos"),
        sum(col("s") * col("c")).as("ssum"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("pos_rate_ppm"),
        expr("(ssum - pmod(ssum, n)) div n").as("mean_score"))
      .orderBy(col("bin"))
  }

  private lazy val modelCalibrationSql =
    s"""WITH $ptCtes,
      |sc AS (
      |  SELECT y, g$PtRounds.w1 * x1 + g$PtRounds.w2 * x2
      |            + g$PtRounds.w3 * x3 + g$PtRounds.w4 * x4 AS s
      |  FROM f, g$PtRounds),
      |hist AS (
      |  SELECT s, CAST(count(*) AS BIGINT) AS c,
      |         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cp
      |  FROM sc GROUP BY s),
      |r AS (
      |  SELECT s, c, cp,
      |         coalesce(CAST(sum(c) OVER (ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb,
      |         (SELECT CAST(sum(c) AS BIGINT) FROM hist) AS nt
      |  FROM hist),
      |binned AS (
      |  SELECT ((2 * cumb + c) * $CalBins) // (2 * nt) AS bin, c, cp, s
      |  FROM r),
      |agg AS (
      |  SELECT bin, CAST(sum(c) AS BIGINT) AS n, CAST(sum(cp) AS BIGINT) AS n_pos,
      |         CAST(sum(s * c) AS BIGINT) AS ssum
      |  FROM binned GROUP BY 1)
      |SELECT bin, n, n_pos, n_pos * 1000000 // n AS pos_rate_ppm,
      |       (ssum - ((ssum % n + n) % n)) // n AS mean_score
      |FROM agg ORDER BY bin""".stripMargin

  /** Isotonic-regression calibration (PAV) of the perceptron's reliability
    * curve, via the minimax closed form instead of the sequential
    * pool-adjacent-violators loop:
    *
    *   fit(i) = max_{j<=i} min_{k>=i} wavg(pos_rate over bins [j, k])
    *
    * which makes the whole fit RELATIONAL — a triple self-join over the
    * [[CalBins]]-row bin relation, two min/max aggregates, no iteration,
    * no driver state. Interval averages are exact-integer ratios; their
    * double quotients order EXACTLY here (two distinct rationals with
    * these operand bounds differ by >> 1 ulp), so min/max pick the same
    * interval in both engines and the emitted floor-ppm hash-gates.
    * Output: the raw (possibly non-monotone) rate next to the isotonic
    * fit — the monotone score→probability map a production calibrator
    * serves.
    *
    * 100 TB shape: everything downstream of the score histogram is
    * bin-count-scale (the cubic triple-join is over [[CalBins]] rows —
    * constant); the histogram itself is the modelCalibration shape.
    */
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val bins = keep(modelCalibration(s, dir)
      .select(col("bin"), col("n"), col("n_pos"))
      .repartition(1)
      .withColumn("pid", spark_partition_id())
      .withColumn("cn", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid").orderBy("bin")))
      .withColumn("cp", sum(col("n_pos")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid").orderBy("bin")))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("cn") - col("n")).as("cbn"), (col("cp") - col("n_pos")).as("cbp"),
        col("cn"), col("cp")))
    val i = bins.select(col("bin").as("i"), col("n"), col("n_pos"))
    val j = bins.select(col("bin").as("j"), col("cbn"), col("cbp"))
    val k = bins.select(col("bin").as("k"), col("cn"), col("cp"))
    val fits = i.join(j, col("j") <= col("i"))
      .join(k, col("k") >= col("i"))
      .select(col("i"), col("j"), col("n"), col("n_pos"),
        ((col("cp") - col("cbp")).cast("double") / (col("cn") - col("cbn")))
          .as("frac"))
      .groupBy(col("i"), col("j"), col("n"), col("n_pos"))
      .agg(min(col("frac")).as("mn"))
      .groupBy(col("i"), col("n"), col("n_pos"))
      .agg(max(col("mn")).as("fit"))
    val out = fits.select(
      col("i").as("bin"), col("n"), col("n_pos"),
      expr("n_pos * 1000000 div n").as("raw_ppm"),
      floor(col("fit") * 1000000).cast("long").as("iso_ppm"))
      .orderBy(col("bin"))
    out
  }

  private lazy val isotonicCalibrationSql =
    s"""WITH cal AS ($modelCalibrationSql),
      |bins AS (
      |  SELECT bin, n, n_pos,
      |         CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) - n AS cbn,
      |         CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) - n_pos AS cbp,
      |         CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
      |         CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      |  FROM cal),
      |m1 AS (
      |  SELECT i.bin AS i, j.bin AS j, i.n AS n, i.n_pos AS n_pos,
      |         min(CAST(k.cp - j.cbp AS DOUBLE) / (k.cn - j.cbn)) AS mn
      |  FROM bins i
      |  JOIN bins j ON j.bin <= i.bin
      |  JOIN bins k ON k.bin >= i.bin
      |  GROUP BY 1, 2, 3, 4),
      |fit AS (
      |  SELECT i AS bin, n, n_pos, max(mn) AS f
      |  FROM m1 GROUP BY 1, 2, 3)
      |SELECT bin, n, n_pos, n_pos * 1000000 // n AS raw_ppm,
      |       CAST(floor(f * 1000000) AS BIGINT) AS iso_ppm
      |FROM fit ORDER BY bin""".stripMargin

  /** Functional-dependency audit — schema-quality profiling: for each
    * candidate FD X→Y report how many X keys exist, how many VIOLATE the
    * dependency (more than one distinct Y), the worst per-key Y
    * cardinality, and how many rows sit under violating keys. The
    * candidates span a real FD-discovery probe set (part→supplier,
    * order→shipdate, customer→priority, nation→segment); none of them
    * hold in this schema, which is the point — the audit quantifies HOW
    * broken each is before anyone keys a table on it.
    *
    * 100 TB shape: each leg is one groupBy(X) with a SINGLE distinct
    * aggregate (two-level HashAggregate, no Expand), collapsed map-side to
    * key-domain-sized state, then a 1-row reduce; legs union at report
    * scale.
    */
  def fdAudit(s: SparkSession, dir: String): DataFrame = {
    def leg(name: String, df: DataFrame, x: String, y: String): DataFrame =
      df.groupBy(col(x))
        .agg(count(lit(1)).as("rows"), count_distinct(col(y)).as("ndv"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("ndv") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
          max(col("ndv")).as("max_rhs_ndv"),
          sum(when(col("ndv") > 1, col("rows")).otherwise(0L)).as("rows_in_violations"))
        .select(lit(name).as("fd"), col("n_keys"), col("n_violating_keys"),
          col("max_rhs_ndv"), col("rows_in_violations"))
    val li = Tables.load(s, dir, "lineitem")
    val od = Tables.load(s, dir, "orders")
    val cu = Tables.load(s, dir, "customer")
    leg("lineitem.l_partkey->l_suppkey", li, "l_partkey", "l_suppkey")
      .unionAll(leg("lineitem.l_orderkey->l_shipdate", li, "l_orderkey", "l_shipdate"))
      .unionAll(leg("orders.o_custkey->o_orderpriority", od, "o_custkey", "o_orderpriority"))
      .unionAll(leg("customer.c_nationkey->c_mktsegment", cu, "c_nationkey", "c_mktsegment"))
      .orderBy(col("fd"))
  }

  private val fdAuditSql = {
    def leg(name: String, table: String, x: String, y: String): String =
      s"""SELECT '$name' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
         |       CAST(max(ndv) AS BIGINT) AS max_rhs_ndv,
         |       CAST(sum(CASE WHEN ndv > 1 THEN rows_ ELSE 0 END) AS BIGINT) AS rows_in_violations
         |FROM (SELECT $x, count(*) AS rows_, count(DISTINCT $y) AS ndv
         |      FROM $table GROUP BY 1)""".stripMargin
    Seq(
      leg("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
      leg("lineitem.l_orderkey->l_shipdate", "lineitem", "l_orderkey", "l_shipdate"),
      leg("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
      leg("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  /** Benford expected first-digit shares in ppm — floor(1e6·log10(1+1/d)),
    * precomputed once as integer constants so no libm log runs at query
    * time in either engine (they sum to 999995; floor loses 5 ppm).
    */
  val BenfordPpm: Seq[(Long, Long)] = Seq(
    1L -> 301029L, 2L -> 176091L, 3L -> 124938L, 4L -> 96910L, 5L -> 79181L,
    6L -> 66946L, 7L -> 57991L, 8L -> 51152L, 9L -> 45757L)

  /** Benford's-law first-digit audit over order totals — the forensic
    * data-quality screen for fabricated or truncated monetary columns
    * (invented numbers over-sample mid digits; real multiplicative amounts
    * follow log10(1+1/d)). First digits are extracted WITHOUT logarithms:
    * exact integer cents (`floor(x·100)`, identical in both engines), then
    * the first character of the integer's decimal rendering — integer→
    * string is exact everywhere. Emits one row per digit with observed
    * count, observed/expected ppm, and the signed deviation; the expected
    * shares are fixed integer constants shared verbatim with the oracle.
    *
    * 100 TB shape: one partial-aggregate scan to 9 digit counts; the
    * expected table and grand total are broadcast 9-row/1-row relations.
    */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exp = BenfordPpm.toDF("digit", "exp_ppm")
    val digits = Tables.load(s, dir, "orders")
      .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .where(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
    val obs = digits.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    broadcast(exp).join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("n"),
        expr("coalesce(n_obs, 0) * 1000000 div n").as("obs_ppm"),
        col("exp_ppm"),
        (expr("coalesce(n_obs, 0) * 1000000 div n") - col("exp_ppm")).as("dev_ppm"))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String = {
    val values = BenfordPpm.map { case (d, p) => s"($d, $p)" }.mkString(", ")
    s"""WITH expd(digit, exp_ppm) AS (VALUES $values),
       |digits AS (
       |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
       |  WHERE cents > 0),
       |obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
       |SELECT CAST(e.digit AS BIGINT) AS digit,
       |       CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
       |       t.n,
       |       coalesce(o.n_obs, 0) * 1000000 // t.n AS obs_ppm,
       |       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       |       coalesce(o.n_obs, 0) * 1000000 // t.n - e.exp_ppm AS dev_ppm
       |FROM expd e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
       |ORDER BY digit""".stripMargin
  }

  /** SAR cohort: data subjects with user/customer key ≡ 0 (mod this) */
  val SarMod = 17L

  /** GDPR subject-access-request export — the READ companion of
    * [[gdprErasure]] (Art. 15 beside Art. 17): for a deterministic subject
    * cohort (key % [[SarMod]] = 0), inventory EVERYTHING the engine holds
    * about them across tables — row counts, distinct-subject counts, and
    * ORDER-FREE md5-half content checksums of each row's canonical
    * rendering (the [[graft.analytics.Relational.tableFingerprint]] canon:
    * integerized fields joined with '|'), so the export manifest proves
    * completeness: any missing row, extra row, or altered value flips the
    * checksum. This is the artifact a compliance team hands the requester
    * alongside the data.
    *
    * 100 TB shape: one scan per table with a narrow per-row hash
    * projection; each leg collapses to a 1-row aggregate (the
    * single-distinct subject count is the two-level no-Expand shape); no
    * joins — each table is inventoried against its own subject key.
    */
  def gdprSarExport(s: SparkSession, dir: String): DataFrame = {
    def leg(name: String, df: DataFrame, subject: Column, canon: Column): DataFrame = {
      val h = md5(canon.cast("binary"))
      df.select(subject.as("subj"),
          Portable.hexInt(h).as("h1"),
          Portable.hexInt(h, 9).as("h2"))
        .agg(
          countDistinct(col("subj")).as("n_subjects"),
          count(lit(1)).as("n_rows"),
          coalesce(sum(col("h1")), lit(0L)).as("sum_h1"),
          coalesce(sum(col("h2")), lit(0L)).as("sum_h2"))
        .select(lit(name).as("table_name"), col("n_subjects"), col("n_rows"),
          col("sum_h1"), col("sum_h2"))
    }
    val ev = Tables.load(s, dir, "events").where(col("user_id") % SarMod === 0)
    val od = Tables.load(s, dir, "orders").where(col("o_custkey") % SarMod === 0)
    val cu = Tables.load(s, dir, "customer").where(col("c_custkey") % SarMod === 0)
    leg("events", ev, col("user_id"),
        concat_ws("|", col("event_id"), col("user_id"), col("event_type"),
          coalesce(floor(col("value") * 1000).cast("long"), lit(-1L))))
      .unionByName(leg("orders", od, col("o_custkey"),
        concat_ws("|", col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))))
      .unionByName(leg("customer", cu, col("c_custkey"),
        concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey"))))
      .orderBy(col("table_name"))
  }

  private val gdprSarExportSql = {
    def sumHalf(from: String) = s"CAST(coalesce(sum(${Portable.hexIntSql("h", from)}), 0) AS BIGINT)"
    val (h1, h2) = (sumHalf("1"), sumHalf("9"))
    s"""WITH ev AS (
      |  SELECT md5(concat_ws('|', event_id, user_id, event_type,
      |           coalesce(CAST(floor(value * 1000) AS BIGINT), -1))) AS h, user_id AS subj
      |  FROM events WHERE user_id % $SarMod = 0),
      |od AS (
      |  SELECT md5(concat_ws('|', o_orderkey, o_custkey,
      |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))) AS h,
      |         o_custkey AS subj
      |  FROM orders WHERE o_custkey % $SarMod = 0),
      |cu AS (
      |  SELECT md5(concat_ws('|', c_custkey, c_name, c_nationkey)) AS h,
      |         c_custkey AS subj
      |  FROM customer WHERE c_custkey % $SarMod = 0)
      |SELECT 'events' AS table_name, count(DISTINCT subj) AS n_subjects,
      |       count(*) AS n_rows,
      |       $h1 AS sum_h1, $h2 AS sum_h2
      |FROM ev
      |UNION ALL
      |SELECT 'orders', count(DISTINCT subj), count(*),
      |       $h1, $h2
      |FROM od
      |UNION ALL
      |SELECT 'customer', count(DISTINCT subj), count(*),
      |       $h1, $h2
      |FROM cu
      |ORDER BY table_name""".stripMargin
  }

  /** SCD2 validity-interval lint — the dimension-loader data-quality gate:
    * given a versioned dimension's [valid_from, valid_to) intervals, find
    * the two corruptions every point-in-time join silently mis-answers
    * under — OVERLAPS (two versions simultaneously "current": an as-of
    * lookup becomes ambiguous) and GAPS (no version current: the lookup
    * returns nothing). Audited here on a synthesized dirty dimension —
    * per customer, each order opens a state valid for `o_orderkey % 120`
    * days, so overlaps arise when the next order lands inside the previous
    * duration and gaps when it lands later. Adjacent intervals (ordered by
    * (valid_from, key) per customer) classify as overlap / seamless / gap
    * with exact day magnitudes; the report aggregates per nation with the
    * broadcast dim chain. All integer day arithmetic — one fact-sized
    * window pass, nation-sized output.
    */
  /** Off-policy evaluation over the logged event stream (the counterfactual
    * question every logged-bandit / RLHF-style dataset owner asks: "what
    * would THIS policy have earned on last month's traffic?"). The log is
    * modeled as a uniform randomized logging policy over the K-action
    * vocabulary (propensity exactly 1/K, the standard randomization
    * assumption, stated not estimated); the TARGET policy is deterministic
    * and engine-portable — action index = md5-half(user) mod K over the
    * sorted vocabulary (the portable-hash recipe). Per target action:
    *
    *   - IPS numerator `K·Σ_matched r` and SNIPS numerator `Σ_matched r`
    *     as exact scaled BIGINTs (r = floor(value·1000); V̂_IPS =
    *     ips_num / (n·1000), V̂_SNIPS = snips_num / (n_matched·1000)),
    *   - `ips_est` as ONE raw double quotient of those exact integers
    *     (int64→double + a single divide — the same fixed sequence in both
    *     engines, never a round()).
    *
    * 100 TB shape: vocabulary + K broadcast (action-count-sized); the
    * policy evaluation is a narrow codegen projection over the log and one
    * K-cardinality aggregate — no shuffle carries event payloads.
    */
  def opeIps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        coalesce(floor(col("value") * 1000).cast("long"), lit(0L)).as("r_m"))
    val acts = Tables.load(s, dir, "events")
      .select("event_type").distinct()
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("event_type"))) - 1)
    val kRel = acts.agg(count(lit(1)).as("k"))
    ev
      .withColumn("h",
        Portable.md5Int(col("user_id").cast("string")))
      .crossJoin(broadcast(kRel))
      .join(broadcast(acts.select(col("event_type").as("tgt_action"), col("idx"))),
        col("h") % col("k") === col("idx"))
      .groupBy(col("tgt_action"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === col("tgt_action"), 1)).as("n_matched"),
        (max(col("k")) *
          sum(when(col("event_type") === col("tgt_action"), col("r_m")).otherwise(0L)))
          .as("ips_num"),
        sum(when(col("event_type") === col("tgt_action"), col("r_m")).otherwise(0L))
          .as("snips_num"))
      .withColumn("ips_est",
        col("ips_num").cast("double") / (col("n_events") * 1000))
  }

  private val opeIpsSql =
    s"""WITH acts AS (
      |  SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS idx
      |  FROM (SELECT DISTINCT event_type FROM events)),
      |kk AS (SELECT count(*) AS k FROM acts),
      |ev AS (
      |  SELECT user_id, event_type,
      |         CAST(coalesce(floor(value * 1000), 0) AS BIGINT) AS r_m,
      |         ${Portable.md5IntSql("CAST(user_id AS VARCHAR)")} AS h
      |  FROM events),
      |tg AS (
      |  SELECT ev.event_type, ev.r_m, a.event_type AS tgt_action, kk.k
      |  FROM ev CROSS JOIN kk
      |  JOIN acts a ON ev.h % kk.k = a.idx)
      |SELECT tgt_action, count(*) AS n_events,
      |       count(CASE WHEN event_type = tgt_action THEN 1 END) AS n_matched,
      |       CAST(max(k) * sum(CASE WHEN event_type = tgt_action THEN r_m ELSE 0 END)
      |            AS BIGINT) AS ips_num,
      |       CAST(sum(CASE WHEN event_type = tgt_action THEN r_m ELSE 0 END)
      |            AS BIGINT) AS snips_num,
      |       CAST(CAST(max(k) * sum(CASE WHEN event_type = tgt_action THEN r_m ELSE 0 END)
      |                 AS BIGINT) AS DOUBLE) / (count(*) * 1000) AS ips_est
      |FROM tg GROUP BY tgt_action""".stripMargin

  def scd2IntervalAudit(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.load(s, dir, "orders")
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("vf"),
        col("o_orderkey"))
      .withColumn("vt", col("vf") + col("o_orderkey") % 120)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("vf", "o_orderkey")
    val pairs = od
      .withColumn("prev_vt", lag(col("vt"), 1).over(w))
      .where(col("prev_vt").isNotNull)
      .select(col("o_custkey"),
        (col("prev_vt") - col("vf")).as("delta"))
    val cu = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
    pairs.join(broadcast(cu), col("o_custkey") === col("c_custkey"))
      .groupBy(col("nation"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("delta") > 0, 1L).otherwise(0L)).as("n_overlap_pairs"),
        sum(when(col("delta") < 0, 1L).otherwise(0L)).as("n_gap_pairs"),
        sum(when(col("delta") === 0, 1L).otherwise(0L)).as("n_seamless_pairs"),
        sum(when(col("delta") > 0, col("delta")).otherwise(0L)).as("overlap_days"),
        sum(when(col("delta") < 0, -col("delta")).otherwise(0L)).as("gap_days"))
      .orderBy(col("nation"))
  }

  private val scd2IntervalAuditSql =
    """WITH iv AS (
      |  SELECT o_custkey,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS vf,
      |         o_orderkey,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |           + o_orderkey % 120 AS vt
      |  FROM orders),
      |pr AS (
      |  SELECT o_custkey,
      |         lag(vt) OVER (PARTITION BY o_custkey ORDER BY vf, o_orderkey) - vf AS delta
      |  FROM iv),
      |p AS (SELECT * FROM pr WHERE delta IS NOT NULL)
      |SELECT CAST(c_nationkey AS BIGINT) AS nation,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap_pairs,
      |       CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_pairs,
      |       CAST(sum(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seamless_pairs,
      |       CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS overlap_days,
      |       CAST(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END) AS BIGINT) AS gap_days
      |FROM p JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey
      |ORDER BY nation""".stripMargin

  // ---------------------------------------------------------------------------
  // Randomized response — local differential privacy with derived coins
  // ---------------------------------------------------------------------------

  /** Randomized-response private counts (Warner 1965, the local-DP
    * mechanism): each (user, event_type) membership bit is reported TRUTHFULLY
    * with probability 3/4 and FLIPPED with probability 1/4 — ε = ln 3 local
    * differential privacy — and the aggregate debiases the flips:
    * T̂ = 2·obs − n/2, emitted ×2 (`est_x2 = 4·obs − n`) so the estimate
    * stays integer. The coin is the engine-portable md5 recipe (first 8 hex
    * chars mod 4 == 0 → flip, an EXACT 1/4 on the 2³² hash space), so the
    * privatized view and its debiasing replay bit-identically in the oracle
    * — the mechanism's privacy comes from the adversary not knowing the
    * salt, while the pipeline stays deterministic for retry/audit.
    *
    * 100 TB shape: the universe is users × event-type dims (the type
    * relation broadcasts); the per-user coin is a local hash; ONE aggregate
    * keyed by type carries four int64 partials — no row-level data leaves
    * the scan stage.
    */
  def rrPrivateCount(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val users = ev.select("user_id").distinct()
    val types = ev.select("event_type").distinct()
    val ut = ev.select("user_id", "event_type").distinct()
      .withColumn("has", lit(1L))
    val truth = users.crossJoin(broadcast(types))
      .join(ut, Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"),
        coalesce(col("has"), lit(0L)).as("b"))
    val coin = Portable.md5Int(concat(
      lit("rr|"), col("event_type"), lit("|"), col("user_id").cast("string"))) % 4
    truth
      .withColumn("r", when(coin === 0, lit(1L) - col("b")).otherwise(col("b")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("b")).as("true_count"),
        sum(col("r")).as("reported_count"))
      .withColumn("est_x2", expr("4 * reported_count - n_users"))
      .withColumn("err_x2", abs(col("est_x2") - lit(2) * col("true_count")))
  }

  private val rrPrivateCountSql =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |truth AS (
      |  SELECT univ.user_id, univ.event_type,
      |         CASE WHEN ut.user_id IS NULL THEN 0 ELSE 1 END AS b,
      |         ${Portable.md5IntSql("'rr|' || univ.event_type || '|' || CAST(univ.user_id AS VARCHAR)")} % 4 AS coin
      |  FROM (SELECT user_id, event_type FROM u CROSS JOIN ty) univ
      |  LEFT JOIN ut ON univ.user_id = ut.user_id
      |              AND univ.event_type = ut.event_type),
      |rep AS (
      |  SELECT event_type, b,
      |         CASE WHEN coin = 0 THEN 1 - b ELSE b END AS r
      |  FROM truth)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(b) AS BIGINT) AS true_count,
      |       CAST(sum(r) AS BIGINT) AS reported_count,
      |       CAST(4 * sum(r) - count(*) AS BIGINT) AS est_x2,
      |       CAST(abs(4 * sum(r) - count(*) - 2 * sum(b)) AS BIGINT) AS err_x2
      |FROM rep GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // Two-sample Kolmogorov–Smirnov drift test — integer-exact
  // ---------------------------------------------------------------------------

  /** milli-values per coarse CDF bucket: 2^10 keeps the offset relation at
    * domain/1024 rows (a few thousand for typical sensor/price domains; for
    * a genuinely continuous double whose quantized domain reaches 1e9,
    * widen this — the reduction is one level of a radix prefix tree)
    */
  private val CdfBucket = 1024L

  /** Cumulative per-side counts over a `(vm, ca, cb)` value histogram
    * WITHOUT a global single-partition window — the two-level prefix sum
    * ([[Curation.curriculumOrder]]'s discipline): the expensive cumulative
    * window is partitioned by a coarse value bucket (`vm div 1024`,
    * truncation division is monotone so bucket order == value order and the
    * window stays fully parallel), per-bucket totals reduce to a
    * bucket-count-sized relation whose prefix offsets run in the constant-pid
    * tiny-window idiom, and the offsets broadcast back. Output adds
    * `cuma`/`cumb` (global cumulative counts) and `next_vm` (the globally
    * next histogram point — within-bucket lead, patched across bucket
    * boundaries by the next bucket's min; NULL only at the global last
    * point). At 100 TB nothing row- or domain-scaled crosses one task: the
    * single-task stage is bounded by domain/1024, not by the data.
    */
  private def cdfCumulative(hist: DataFrame): DataFrame = {
    val b = hist.withColumn("bkt", expr(s"vm div $CdfBucket"))
    val wCum = Window.partitionBy("bkt").orderBy("vm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy("bkt").orderBy("vm")
    val sizes = b.groupBy("bkt").agg(
        sum(col("ca")).as("ta"), sum(col("cb")).as("tb"), min(col("vm")).as("mn"))
      .repartition(1).withColumn("pid", spark_partition_id())
    val wOff = Window.partitionBy("pid").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = sizes
      .withColumn("offa", sum(col("ta")).over(wOff) - col("ta"))
      .withColumn("offb", sum(col("tb")).over(wOff) - col("tb"))
      .withColumn("next_mn",
        lead(col("mn"), 1).over(Window.partitionBy("pid").orderBy("bkt")))
      .select(col("bkt"), col("offa"), col("offb"), col("next_mn"))
    b.join(broadcast(offs), "bkt")
      .withColumn("cuma", col("offa") + sum(col("ca")).over(wCum))
      .withColumn("cumb", col("offb") + sum(col("cb")).over(wCum))
      .withColumn("next_vm",
        coalesce(lead(col("vm"), 1).over(wLead), col("next_mn")))
      .select(col("vm"), col("ca"), col("cb"),
        col("cuma"), col("cumb"), col("next_vm"))
  }

  /** Two-sample KS drift test over the event `value` distribution, split
    * A/B by `event_id % 2` (the deterministic reference-vs-live split; swap
    * in an epoch predicate for time drift): D = max_v |F_A(v) − F_B(v)|
    * computed EXACTLY as `d_scaled = max |cumA·n_B − cumB·n_A|` on the milli
    * value histogram — the cross-multiplied form never divides, so the
    * whole statistic is int64 (cum ≤ n, product ≤ n_A·n_B ≈ 2e8 at sf0.1).
    * Emits D in ppm, the value where the gap peaks, and the α=0.05 verdict
    * against c(α)·√((n_A+n_B)/(n_A·n_B)) with c = 1358/1000 — both sides
    * floored to ppm through the SAME op sequence, so even the verdict
    * hash-gates. Unlike [[driftChi2]] (binned frequencies), KS reads the
    * full CDF — it catches shape drift that preserves bin masses.
    *
    * 100 TB shape: one map-side-combined histogram by quantized value
    * (domain-bounded), then the CDF pass via [[cdfCumulative]]'s two-level
    * prefix sum — the cumulative window is BUCKET-partitioned (fully
    * parallel) and only the bucket-count-sized offset relation crosses a
    * single task; no single-partition exchange ever carries the histogram.
    */
  def driftKs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      (col("event_id") % 2).as("side"),
      floor(col("value") * 1000).cast("long").as("vm"))
    val hist = ev.groupBy("vm").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = ev.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
    cdfCumulative(hist)
      .crossJoin(broadcast(tot))
      .withColumn("gap", abs(col("cuma") * col("nb") - col("cumb") * col("na")))
      .agg(
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("gap")).as("d_scaled"),
        min_by(col("vm"), struct(-col("gap"), col("vm"))).as("d_at_vm"),
        expr("max(gap) * 1000000 div (max(na) * max(nb))").as("ks_ppm"),
        expr("""CAST(floor((1358 / 1000)
                * sqrt((max(na) + max(nb)) / CAST(max(na) * max(nb) AS DOUBLE))
                * 1000000) AS BIGINT)""").as("crit95_ppm"))
      .withColumn("reject_95",
        (col("ks_ppm") > col("crit95_ppm")).cast("long"))
  }

  private val driftKsSql =
    """WITH e AS (
      |  SELECT event_id % 2 AS side, CAST(floor(value * 1000) AS BIGINT) AS vm
      |  FROM events),
      |h AS (
      |  SELECT vm,
      |         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM e GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM e),
      |c AS (
      |  SELECT vm,
      |         CAST(sum(ca) OVER (ORDER BY vm
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
      |         CAST(sum(cb) OVER (ORDER BY vm
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
      |  FROM h),
      |g AS (
      |  SELECT vm, abs(cuma * nb - cumb * na) AS gap, na, nb
      |  FROM c CROSS JOIN t),
      |agg AS (
      |  SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
      |         CAST(max(gap) AS BIGINT) AS d_scaled,
      |         CAST(max(CASE WHEN rn = 1 THEN vm END) AS BIGINT) AS d_at_vm,
      |         CAST(max(gap) * 1000000 // (max(na) * max(nb)) AS BIGINT) AS ks_ppm,
      |         CAST(floor((1358 / 1000)
      |           * sqrt((max(na) + max(nb)) / CAST(max(na) * max(nb) AS DOUBLE))
      |           * 1000000) AS BIGINT) AS crit95_ppm
      |  FROM (SELECT *, row_number() OVER (ORDER BY gap DESC, vm) AS rn FROM g))
      |SELECT *, CAST(CASE WHEN ks_ppm > crit95_ppm THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM agg""".stripMargin

  /** Two-sample Cramér–von Mises drift test over the same split as
    * [[driftKs]] — the L2 companion to KS's L∞: T sums the SQUARED CDF gap
    * over every pooled point, so a broad, moderate distribution shift that
    * never produces one extreme gap (invisible to KS) still rejects here.
    *
    * Exactness: on the pooled value histogram with per-side counts
    * (ca, cb) and cumulatives (Na_i, Nb_i),
    *   T = Σ_i (ca_i+cb_i) · (Na_i·nb − Nb_i·na)² / (na·nb·(na+nb)²)
    * — every term integer. (Anderson's two-sample form: T = nm/N² ·
    * Σ (F_n−G_m)² over the N pooled points; the (F−G)² expansion
    * contributes 1/(na·nb)², netting the denominator above — sanity pin:
    * n=m=1 on distinct values gives T=0.25, which this formula reproduces
    * and the N³ variant halves.) The squared gaps exceed int64, so the sum runs
    * in DECIMAL(38,0) (HUGEINT in DuckDB) and one integer `div` emits
    * floor-1e6 (the [[graft.analytics.Indicators]] VPIN discipline; e6 not
    * e9 keeps even the disjoint-support worst case inside 38 digits).
    * Asymptotic 5% critical value T* = 0.461 → integer compare at 461000.
    *
    * 100 TB shape: identical to KS — one fact shuffle to the value
    * histogram, cumulative window on the value-domain-sized relation, one
    * 1-row reduce.
    */
  def driftCvm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      (col("event_id") % 2).as("side"),
      floor(col("value") * 1000).cast("long").as("vm"))
    val hist = ev.groupBy("vm").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = ev.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
    cdfCumulative(hist)
      .crossJoin(broadcast(tot))
      .withColumn("gap", col("cuma") * col("nb") - col("cumb") * col("na"))
      .agg(
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        expr("""CAST(sum(CAST(ca + cb AS DECIMAL(38,0)) * gap * gap) * 1000000
               | div (CAST(max(na) AS DECIMAL(38,0)) * max(nb)
               |      * (max(na) + max(nb)) * (max(na) + max(nb))) AS BIGINT)"""
          .stripMargin).as("cvm_e6"))
      .withColumn("reject_95", (col("cvm_e6") > lit(461000L)).cast("long"))
  }

  /** Wasserstein-1 (earth mover) drift over the [[driftKs]] split — the
    * transport companion: W1 = ∫|F_a − F_b| dv responds to HOW FAR mass
    * moved, not just whether CDFs separate (KS) or how broadly (CvM).
    * On the milli-value histogram it is exactly
    *   Σ_i |Na_i·nb − Nb_i·na| · (vm_{i+1} − vm_i) / (na·nb)
    * — integer except the final scale. Sums run in DECIMAL(38,0)/HUGEINT;
    * one integer `div` emits W1 in micro-value units (floor-1e6 of the
    * value-unit distance: ×1e6 before the div, width already in 1e-3
    * units, so ×1e3). The last histogram point has no successor and
    * contributes nothing (both CDFs are 1 past it).
    */
  def driftWasserstein(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      (col("event_id") % 2).as("side"),
      floor(col("value") * 1000).cast("long").as("vm"))
    val hist = ev.groupBy("vm").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = ev.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
    cdfCumulative(hist)
      .where(col("next_vm").isNotNull) // global last point: both CDFs are 1 past it
      .withColumn("width", col("next_vm") - col("vm"))
      .crossJoin(broadcast(tot))
      .withColumn("gap", abs(col("cuma") * col("nb") - col("cumb") * col("na")))
      .agg(
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        expr("""CAST(sum(CAST(gap AS DECIMAL(38,0)) * width) * 1000
               | div (CAST(max(na) AS DECIMAL(38,0)) * max(nb)) AS BIGINT)"""
          .stripMargin).as("w1_e6"))
  }

  private val driftWassersteinSql =
    """WITH e AS (
      |  SELECT event_id % 2 AS side, CAST(floor(value * 1000) AS BIGINT) AS vm
      |  FROM events),
      |h AS (
      |  SELECT vm,
      |         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM e GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM e),
      |c AS (
      |  SELECT vm,
      |         CAST(sum(ca) OVER win AS BIGINT) AS cuma,
      |         CAST(sum(cb) OVER win AS BIGINT) AS cumb,
      |         lead(vm) OVER (ORDER BY vm) - vm AS width
      |  FROM h
      |  WINDOW win AS (ORDER BY vm ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g AS (
      |  SELECT CAST(abs(cuma * nb - cumb * na) AS HUGEINT) AS gap, width, na, nb
      |  FROM c CROSS JOIN t WHERE width IS NOT NULL)
      |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
      |       CAST(sum(gap * width) * 1000
      |            // (CAST(max(na) AS HUGEINT) * max(nb)) AS BIGINT) AS w1_e6
      |FROM g""".stripMargin

  private val driftCvmSql =
    """WITH e AS (
      |  SELECT event_id % 2 AS side, CAST(floor(value * 1000) AS BIGINT) AS vm
      |  FROM events),
      |h AS (
      |  SELECT vm,
      |         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM e GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM e),
      |c AS (
      |  SELECT vm, ca, cb,
      |         CAST(sum(ca) OVER (ORDER BY vm
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
      |         CAST(sum(cb) OVER (ORDER BY vm
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
      |  FROM h),
      |g AS (
      |  SELECT ca, cb, CAST(cuma * nb - cumb * na AS HUGEINT) AS gap, na, nb
      |  FROM c CROSS JOIN t),
      |agg AS (
      |  SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
      |         CAST(sum(CAST(ca + cb AS HUGEINT) * gap * gap) * 1000000
      |              // (CAST(max(na) AS HUGEINT) * max(nb)
      |                 * (max(na) + max(nb)) * (max(na) + max(nb))) AS BIGINT) AS cvm_e6
      |  FROM g)
      |SELECT *, CAST(CASE WHEN cvm_e6 > 461000 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM agg""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("drift_ks", driftKs, Some(driftKsSql)),
    Q("drift_cvm", driftCvm, Some(driftCvmSql)),
    Q("drift_wasserstein", driftWasserstein, Some(driftWassersteinSql)),
    Q("rr_private_count", rrPrivateCount, Some(rrPrivateCountSql)),
    Q("ope_ips", opeIps, Some(opeIpsSql)),
    Q("scd2_interval_audit", scd2IntervalAudit, Some(scd2IntervalAuditSql)),
    Q("gdpr_sar_export", gdprSarExport, Some(gdprSarExportSql)),
    Q("benford_audit", benfordAudit, Some(benfordAuditSql)),
    Q("fairness_audit", fairnessAudit, Some(fairnessAuditSql)),
    Q("fd_audit", fdAudit, Some(fdAuditSql)),
    Q("isotonic_calibration", isotonicCalibration, Some(isotonicCalibrationSql)),
    Q("ldiversity_audit", lDiversityAudit, Some(lDiversityAuditSql)),
    Q("model_calibration", modelCalibration, Some(modelCalibrationSql)),
    Q("ri_audit", riAudit, Some(riAuditSql)),
    Q("drift_chi2", driftChi2, Some(driftChi2Sql)),
    Q("gdpr_erasure", gdprErasure, Some(gdprErasureSql)),
    Q("kanon_audit", kAnonAudit, Some(kAnonAuditSql)),
    Q("perceptron_train", perceptronTrain, Some(perceptronTrainSql)),
    Q("model_auc", modelAuc, Some(modelAucSql)),
    Q("model_roc", modelRoc, Some(modelRocSql)),
    Q("dq_expectations", dqExpectations, Some(dqExpectationsSql)),
    Q("pii_redact", piiRedact, Some(piiRedactSql)),
    Q("mixture_rebalance", mixtureRebalance, Some(mixtureRebalanceSql)),
    Q("quality_model_filter", qualityModelFilter, Some(qualityModelFilterSql)))
}
