package graft.llm

import graft.{Localize, Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature engineering for training-data export — the layer between curation
  * (what goes in the set) and the trainer (what the model sees): leakage-free
  * target encoding, hashing-trick featurization, and k-fold generalization
  * measurement. Everything is either pure integer arithmetic or a FIXED
  * sequence of correctly-rounded IEEE double ops on exact-integer inputs, so
  * every query hash-gates against the DuckDB oracle.
  */
object Features extends QueryPack {

  /** smoothing pseudo-count for the target-encoding prior */
  val TeSmooth = 10

  /** Leave-one-out target encoding of order priority against order value:
    * each order's encoding is the smoothed mean of ALL OTHER orders in its
    * category —
    *
    *   enc_i = (S_cat − y_i + m·prior) div (n_cat − 1 + m)
    *
    * with prior = global floor-mean. LOO is the leakage discipline: a row
    * never sees its own target, so the feature is safe to train on (the
    * plain category mean memorizes singletons). All integer cents.
    *
    * 100 TB shape: one fact scan for the per-category sufficient stats
    * (category domain is small → broadcast back), one for the global prior
    * (1-row broadcast), then a map-side-only projection per row — the fact
    * never shuffles.
    */
  def targetEncodeLoo(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("cat"),
        floor(col("o_totalprice") * 100).cast("long").as("y_c"))
    val catStats = od.groupBy(col("cat"))
      .agg(sum(col("y_c")).as("s_cat"), count(lit(1)).as("n_cat"))
    val prior = od.agg(expr("sum(y_c) div count(1)").as("prior_c"))
    od.join(broadcast(catStats), Seq("cat"))
      .crossJoin(broadcast(prior))
      .select(
        col("o_orderkey"), col("cat"), col("y_c"),
        expr(s"(s_cat - y_c + $TeSmooth * prior_c) div (n_cat - 1 + $TeSmooth)")
          .as("enc_c"))
  }

  private val targetEncodeLooSql =
    s"""WITH od AS (
       |  SELECT o_orderkey, o_orderpriority AS cat,
       |         CAST(floor(o_totalprice * 100) AS BIGINT) AS y_c
       |  FROM orders),
       |cs AS (
       |  SELECT cat, CAST(sum(y_c) AS BIGINT) AS s_cat,
       |         CAST(count(*) AS BIGINT) AS n_cat
       |  FROM od GROUP BY 1),
       |pr AS (SELECT CAST(sum(y_c) AS BIGINT) // count(*) AS prior_c FROM od)
       |SELECT o_orderkey, cat, y_c,
       |       (s_cat - y_c + $TeSmooth * prior_c) // (n_cat - 1 + $TeSmooth) AS enc_c
       |FROM od JOIN cs USING (cat) CROSS JOIN pr""".stripMargin

  /** hashed feature space size (buckets) */
  val HashB = 64
  /** deterministic doc sample: every [[HashDocMod]]-th doc_id */
  val HashDocMod = 20

  /** Hashing-trick featurization (Weinberger et al.) of document tokens:
    * each token hashes to one of [[HashB]] buckets with a ±1 sign from an
    * independent hash bit, and a document's feature vector is the signed
    * token-count sum per bucket — fixed dimensionality with no vocabulary
    * pass, the standard trick for unbounded categorical spaces. Hashes are
    * the portable md5 recipe, so bucket assignment and signs replay in the
    * oracle exactly. Emitted sparse: (doc_id, bucket, signed_sum, n_tok)
    * over a deterministic doc sample.
    *
    * 100 TB shape: tokenize + hash are map-side; the only shuffle is the
    * (doc, bucket)-keyed partial-aggregated sum, ≤ [[HashB]] rows per doc.
    * No vocabulary state anywhere — that's the point of the trick.
    */
  def featureHashExport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
      .where(col("doc_id") % HashDocMod === 0)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
    val hashed = toks
      .select(col("doc_id"),
        Portable.md5Int(col("tok")).as("h"))
      .select(col("doc_id"),
        (col("h") % HashB).as("bucket"),
        when(expr(s"(h div $HashB) % 2") === 0, 1L).otherwise(-1L).as("sgn"))
    hashed.groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("signed_sum"), count(lit(1)).as("n_tok"))
  }

  private val featureHashExportSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id % $HashDocMod = 0),
       |hashed AS (
       |  SELECT doc_id,
       |         ${Portable.md5IntSql("tok")} % $HashB AS bucket,
       |         CASE WHEN (${Portable.md5IntSql("tok")} // $HashB) % 2 = 0
       |              THEN 1 ELSE -1 END AS sgn
       |  FROM toks WHERE length(tok) > 0)
       |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS signed_sum,
       |       CAST(count(*) AS BIGINT) AS n_tok
       |FROM hashed GROUP BY 1, 2""".stripMargin

  /** cross-validation folds */
  val CvK = 5

  /** K-fold cross-validation of the price~quantity linear model: fold
    * membership is the portable md5 hash of the row key mod [[CvK]]; each
    * fold's model trains on the OTHER folds' exact-integer sufficient
    * statistics (computed as total − fold, so ONE scan yields all K
    * models), then the held-out fold's squared residuals are floor-
    * integerized PER ROW before summing (a raw double SSE would be
    * summation-order-dependent — the one operation that never replays
    * cross-engine). Slope/intercept are fixed sequences of correctly-
    * rounded double ops on exact-int sums, identical in both engines.
    *
    * 100 TB shape: one fact scan to K fold-stat rows; the K models join
    * back by fold key (broadcast); residual integerization is map-side and
    * the final per-fold SSE is a partial-aggregated K-row reduce.
    */
  def cvKfoldOls(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    // loadSpread: the per-row md5 fold hash dominates the one-row-group
    // single-task scan, and BOTH passes (fold stats + residuals) pay it
    val li = Tables.loadSpread(s, dir, "lineitem").select(
      (Portable.md5Int(concat_ws(":", col("l_orderkey"), col("l_linenumber"))) % CvK).as("fold"),
      col("l_quantity").cast("long").as("x"),
      floor(col("l_extendedprice") * 100).cast("long").as("y_c"))
    val foldStats = keep(li.groupBy(col("fold")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y_c")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y_c")).as("sxy")))
    val tot = foldStats.agg(
      sum(col("n")).as("tn"), sum(col("sx")).as("tsx"), sum(col("sy")).as("tsy"),
      sum(col("sxx")).as("tsxx"), sum(col("sxy")).as("tsxy"))
    // train stats = total − fold; slope/icept in the covariance form keeps
    // every intermediate exact in double (sums < 2^53) with ONE rounding
    // per written op — the same expression text evaluates bit-identically
    // in DuckDB
    val models = foldStats.crossJoin(broadcast(tot)).select(
      col("fold"), col("n").as("n_test"), (col("tn") - col("n")).as("n_train"),
      expr("""((tsxy - sxy) / (tn - n) - ((tsx - sx) / (tn - n)) * ((tsy - sy) / (tn - n)))
             | / ((tsxx - sxx) / (tn - n) - ((tsx - sx) / (tn - n)) * ((tsx - sx) / (tn - n)))"""
        .stripMargin).as("slope"),
      expr("""(tsy - sy) / (tn - n)
             | - (((tsxy - sxy) / (tn - n) - ((tsx - sx) / (tn - n)) * ((tsy - sy) / (tn - n)))
             |    / ((tsxx - sxx) / (tn - n) - ((tsx - sx) / (tn - n)) * ((tsx - sx) / (tn - n))))
             |   * ((tsx - sx) / (tn - n))""".stripMargin).as("icept"))
    val out = li.join(broadcast(models), Seq("fold"))
      .select(col("fold"), col("n_train"), col("n_test"),
        col("slope"), col("icept"),
        floor((col("y_c") - (col("icept") + col("slope") * col("x")))
          * (col("y_c") - (col("icept") + col("slope") * col("x"))) / 100)
          .cast("long").as("sq"))
      .groupBy(col("fold"), col("n_train"), col("n_test"))
      .agg(
        max(floor(col("slope") * 1000000).cast("long")).as("slope_ppm"),
        max(floor(col("icept")).cast("long")).as("icept_c"),
        sum(col("sq")).as("sse_h"))
      .withColumn("mse_h", expr("sse_h div n_test"))
      .orderBy(col("fold"))
    out
  }

  private val cvKfoldOlsSql = {
    val slope =
      """((tsxy - sxy) / (tn - n) - ((tsx - sx) / (tn - n)) * ((tsy - sy) / (tn - n)))
        | / ((tsxx - sxx) / (tn - n) - ((tsx - sx) / (tn - n)) * ((tsx - sx) / (tn - n)))"""
        .stripMargin
    val icept =
      s"""(tsy - sy) / (tn - n)
         | - ($slope)
         |   * ((tsx - sx) / (tn - n))""".stripMargin
    s"""WITH li AS (
       |  SELECT ${Portable.md5IntSql("CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")} % $CvK AS fold,
       |         CAST(l_quantity AS BIGINT) AS x,
       |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS y_c
       |  FROM lineitem),
       |fs AS (
       |  SELECT fold, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(y_c) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(x * y_c) AS BIGINT) AS sxy
       |  FROM li GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sx) AS BIGINT) AS tsx,
       |         CAST(sum(sy) AS BIGINT) AS tsy, CAST(sum(sxx) AS BIGINT) AS tsxx,
       |         CAST(sum(sxy) AS BIGINT) AS tsxy
       |  FROM fs),
       |models AS (
       |  SELECT fold, n AS n_test, tn - n AS n_train,
       |         $slope AS slope,
       |         $icept AS icept
       |  FROM fs CROSS JOIN tot),
       |res AS (
       |  SELECT li.fold, n_train, n_test, slope, icept,
       |         CAST(floor((y_c - (icept + slope * x)) * (y_c - (icept + slope * x)) / 100) AS BIGINT) AS sq
       |  FROM li JOIN models ON li.fold = models.fold)
       |SELECT fold, n_train, n_test,
       |       CAST(max(CAST(floor(slope * 1000000) AS BIGINT)) AS BIGINT) AS slope_ppm,
       |       CAST(max(CAST(floor(icept) AS BIGINT)) AS BIGINT) AS icept_c,
       |       CAST(sum(sq) AS BIGINT) AS sse_h,
       |       CAST(sum(sq) AS BIGINT) // n_test AS mse_h
       |FROM res GROUP BY 1, 2, 3 ORDER BY fold""".stripMargin
  }

  /** export shards */
  val ManifestShards = 16

  /** Training-data export manifest: the integrity sidecar a 100 TB corpus
    * ships with so the trainer can verify every shard before reading it.
    * Rows shard by portable md5 of the key; each shard row carries exact
    * row/char counts, the id range, and an ORDER-FREE content checksum (sum
    * of per-row 32-bit md5 halves over id+length+text — commutative, so
    * partial aggregation and any partitioning produce the same digest).
    * A re-export after any mutation (erasure, dedup, redaction) changes
    * exactly the affected shards' checksums.
    *
    * 100 TB shape: one map-side hash pass, a [[ManifestShards]]-row
    * partial-aggregated reduce. Nothing else moves.
    */
  def exportManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        Portable.md5Int(concat_ws(":", col("doc_id"), col("n_chars"), md5(col("text"))))
          .as("rh"),
        (Portable.md5Int(col("doc_id").cast("string")) % ManifestShards).as("shard"))
    docs.groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("rh")).as("checksum"))
      .orderBy(col("shard"))
  }

  private val exportManifestSql =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |         ${Portable.md5IntSql("CAST(doc_id AS VARCHAR) || ':' || CAST(n_chars AS VARCHAR) || ':' || md5(text)")} AS rh,
       |         ${Portable.md5IntSql("CAST(doc_id AS VARCHAR)")} % $ManifestShards AS shard
       |  FROM documents)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       min(doc_id) AS min_id, max(doc_id) AS max_id,
       |       CAST(sum(rh) AS BIGINT) AS checksum
       |FROM d GROUP BY 1 ORDER BY shard""".stripMargin

  /** Tie-aware quantile normalization — the rank-transform featurizer that
    * makes any monotone feature comparable across sources/scales: each
    * DISTINCT value maps to its doubled MID-RANK in ppm (`2·cumb + c` over
    * the value histogram — the Mann-Whitney doubled-rank discipline, so
    * ties land on their exact average rank with no halving round), and the
    * fact joins the broadcast value→ppm map back. Emitted as the per-value
    * mapping plus a per-decile occupancy audit (a correct rank transform
    * fills deciles uniformly up to tie granularity). All integer; the
    * shuffle state is the value HISTOGRAM, never rows — and the cumulative
    * rank over that histogram runs the two-level bucket prefix sum (near-
    * unique money values make even the histogram data-scaled at 100 TB;
    * only the value-range/1024 bucket-offset relation crosses one task).
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.load(s, dir, "orders")
      .select((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("v"))
    val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("bkt", expr("v div 1024"))
    val wCum = Window.partitionBy("bkt").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sizes = hist.groupBy("bkt").agg(sum(col("c")).as("tc"))
      .repartition(1).withColumn("pid", spark_partition_id())
    val bOff = sizes.withColumn("cumb", sum(col("tc")).over(
        Window.partitionBy("pid").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bkt"), (col("cumb") - col("tc")).as("boff"))
    val ranked = hist.join(broadcast(bOff), "bkt")
      .withColumn("cum", col("boff") + sum(col("c")).over(wCum))
      .crossJoin(broadcast(vals.agg(count(lit(1)).as("n"))))
      // doubled mid-rank of the tie run: 2·(cum − c) + c + 1 per member
      .select(col("v"), col("c"),
        expr("(2 * (cum - c) + c + 1) * 1000000 div (2 * n)").as("qnorm_ppm"))
    ranked
      .withColumn("decile", expr("least(qnorm_ppm * 10 div 1000000, 9L)"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_distinct_values"),
        sum(col("c")).as("n_rows"),
        min(col("qnorm_ppm")).as("min_ppm"),
        max(col("qnorm_ppm")).as("max_ppm"))
      .orderBy(col("decile"))
  }

  private val quantileNormalizeSql =
    """WITH vals AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY v),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
      |rk AS (
      |  SELECT v, c,
      |         (2 * (CAST(sum(c) OVER (ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - c)
      |          + c + 1) * 1000000 // (2 * n) AS qnorm_ppm
      |  FROM hist CROSS JOIN n)
      |SELECT least(qnorm_ppm * 10 // 1000000, 9) AS decile,
      |       CAST(count(*) AS BIGINT) AS n_distinct_values,
      |       CAST(sum(c) AS BIGINT) AS n_rows,
      |       CAST(min(qnorm_ppm) AS BIGINT) AS min_ppm,
      |       CAST(max(qnorm_ppm) AS BIGINT) AS max_ppm
      |FROM rk GROUP BY 1
      |ORDER BY decile""".stripMargin

  def all: Seq[Q] = Seq(
    Q("feature_quantile_normalize", quantileNormalize, Some(quantileNormalizeSql)),
    Q("export_manifest", exportManifest, Some(exportManifestSql)),
    Q("target_encode_loo", targetEncodeLoo, Some(targetEncodeLooSql)),
    Q("feature_hash_export", featureHashExport, Some(featureHashExportSql)),
    Q("cv_kfold_ols", cvKfoldOls, Some(cvKfoldOlsSql)))
}
