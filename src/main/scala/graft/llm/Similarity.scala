package graft.llm

import graft.{Localize, Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Similarity.vecMean]] aggregation state: fixed-point component sums +
  * row count. Top-level (public bytecode) so Spark codegen can construct it.
  */
final case class VecSum(sums: Array[Long], n: Long)

/** [[Similarity.embPcaPower]] Gram-matrix aggregation state: the flattened
  * Dim×Dim outer-product sums. Top-level (public bytecode) so Spark codegen
  * can construct it.
  */
final case class GramBuf(s: Array[Long])

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * north-star ANN surface (SURVEY.md §2.6).
  *
  * Three paths:
  *  - brute-force exact cosine top-k for a small query set: broadcast the
  *    queries, ONE scan of the corpus, compiled per-row dot products, top-k
  *    via window `row_number`. This is the correct 100 TB plan for few
  *    queries — no shuffle of the corpus at all, cost = one pass.
  *  - LSH-bucketed ANN (random-hyperplane signs, L hash tables): corpus and
  *    queries meet only inside matching (table, bucket) keys — sub-linear
  *    candidate sets, then exact re-rank. The scale path when the query set
  *    itself is large.
  *  - IVF ANN: corpus vectors live in their nearest-centroid cell; queries
  *    probe their NProbe nearest cells only.
  *
  * Kernel discipline: all hot-path vector math runs in compiled Scala UDFs
  * ([[bucketsUdf]], [[bestCellUdf]]; scalar cosine goes further — a native codegen Expression, [[graft.functions.CosineSimilarity]]) — higher-order array
  * functions (`aggregate`/`zip_with`) are CodegenFallback and re-evaluate
  * their argument trees per element (measured 13× slower for the LSH plane
  * hashing). The UDF folds are sequential left-to-right double adds, the
  * exact operation order of the DuckDB oracle's `list_reduce`, so scores stay
  * bit-identical across engines. Bucket/candidate relations carry only
  * scalar columns through shuffles — embedding payloads never shuffle.
  *
  * Determinism notes: hyperplanes and centroid seeds derive from the
  * PORTABLE md5 recipe over fixed indices (no RNG state — every executor,
  * every run, and the DuckDB oracle see the same values); ranking ties are
  * broken by vec_id on the integerized `floor(cos·1e6)` score — never a
  * `round(x, 6)` of a raw double, whose half-up tie class is the one
  * operation Spark (exact-decimal) and DuckDB (double-space) disagree on.
  */
object Similarity extends QueryPack {

  /** number of fixed query vectors (lowest vec_ids) */
  val NumQueries = 8
  val TopK       = 5
  val Dim        = 64

  /** cosine(a, b) — the native codegen Catalyst expression
    * ([[graft.functions.CosineSimilarity]]): in-place ArrayData reads inside
    * whole-stage codegen, same sequential fold as the oracle's list_reduce.
    */
  private def cosSim(a: Column, b: Column): Column =
    graft.functions.cosine_similarity(a, b)

  /** `floor(cos·1e6)` as BIGINT — the engine-portable integerization of an
    * arbitrary double score (CLAUDE.md rule): one correctly-rounded multiply
    * + floor in both engines, vs `round(x, 6)` where Spark rounds via exact
    * decimal HALF_UP while DuckDB rounds in double space and a score within
    * 1 ulp of a .5e-6 boundary diverges.
    */
  private def cosE6(a: Column, b: Column): Column =
    floor(cosSim(a, b) * lit(1e6)).as("cos_e6")

  /** Exact cosine top-k neighbours for the NumQueries lowest vec_ids. */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.orderBy("vec_id").limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // corpus side spread: the testdata parquet is one unsplittable row
    // group, which would run all NumQueries cosines per row on one core
    val scored = Tables.loadSpread(s, dir, "embeddings").crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosE6(col("qvec"), col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_e6").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
  }

  private val bruteForceSql = {
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  [CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, $Dim + 1)]),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  ORDER BY vec_id LIMIT $NumQueries),
      |scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |         CAST(floor(${dotSql("qvec", "e.embedding")}
      |           / (sqrt(${dotSql("qvec", "qvec")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) * 1000000) AS BIGINT)
      |           AS cos_e6
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos_e6,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos_e6, rank FROM ranked WHERE rank <= $TopK""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // LSH-bucketed ANN
  // ---------------------------------------------------------------------------

  val Tables_ = 4  // L independent hash tables
  val Planes  = 8  // bits per table → 256 buckets/table

  /** Hyperplane matrix [table][plane][dim], components uniform in [-1, 1),
    * derived deterministically from the indices via the PORTABLE hash
    * `Portable.md5Unit("plane:t:p:d")` (DuckDB's `Portable.md5UnitSql`
    * reproduces every component bit-for-bit — which is what lets
    * [[lshTopK]] and [[embCosDedup]] be hash-gated end to end instead of
    * recall-pinned). Built ONCE on the driver and shipped in the UDF
    * closure — per-row work is a plain compiled dot product, not 2048 hash
    * calls (the round-2 formulation recomputed xxhash64 per
    * (table × plane × dim) per row inside interpreted higher-order
    * functions — 13× slower than brute force).
    */
  private lazy val planes: Array[Array[Array[Double]]] =
    Array.tabulate(Tables_, Planes, Dim) { (t, p, d) => Portable.md5Unit(s"plane:$t:$p:$d") }

  /** DuckDB CTEs reproducing [[planes]] and [[bucketsUdf]]: `pl` is one row
    * per (t, p) carrying the 64-weight plane as an ordered list; `keys` is
    * one row per (vec_id, t) with the bucket key. The dot-product sign uses
    * the same sequential fold as the UDF loop (list_prepend 0.0 +
    * list_reduce), so bucket membership replays exactly.
    */
  private def bucketCtes: String =
    s"""pl AS (
      |  SELECT t, p,
      |         [${Portable.md5UnitSql("'plane:' || CAST(t AS VARCHAR) || ':' || CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")}
      |          for i in range(1, $Dim + 1)] AS w
      |  FROM range($Tables_) tt(t), range($Planes) pp(p)),
      |sgn AS (
      |  SELECT e.vec_id, pl.t, pl.p,
      |         CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           [CAST(e.embedding[i] AS DOUBLE) * pl.w[i] for i in range(1, $Dim + 1)]),
      |           (acc, v) -> acc + v) >= 0 THEN 1 ELSE 0 END AS bit
      |  FROM embeddings e, pl),
      |keys AS (
      |  SELECT vec_id, t, CAST(sum(bit * (1 << p)) AS BIGINT) AS b
      |  FROM sgn GROUP BY 1, 2)""".stripMargin

  /** embedding → all Tables_ bucket keys (sign bits of Planes dot products) */
  private val bucketsUdf = udf { (emb: Seq[Float]) =>
    val out = new Array[Long](Tables_)
    var t = 0
    while (t < Tables_) {
      var key = 0L
      var p = 0
      while (p < Planes) {
        val pl = planes(t)(p)
        var dot = 0.0; var i = 0
        while (i < Dim) { dot += emb(i) * pl(i); i += 1 }
        if (dot >= 0) key |= (1L << p)
        p += 1
      }
      out(t) = key
      t += 1
    }
    out
  }

  /** ANN top-k via L×(256-bucket) random-hyperplane LSH: candidates are
    * corpus vectors sharing ≥1 (table, bucket) key with a query, exact-cosine
    * re-ranked. One corpus scan computes all L keys per vector (posexplode),
    * the query keys broadcast into it, and only (query_id, neighbor_id,
    * cos_sim) scalars flow into the dedup/rank shuffle. Output is approximate
    * vs brute force (recall < 1 by design) but DETERMINISTIC given the
    * md5-derived [[planes]], so the DuckDB oracle replays bucket membership,
    * candidate sets and ranks exactly ([[bucketCtes]]); the ScalaTest
    * additionally pins recall on planted clusters.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val corpusBuckets = Tables.loadSpread(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"),
      posexplode(bucketsUdf(col("embedding"))).as(Seq("t", "b")))
    val queryBuckets = emb.orderBy("vec_id").limit(NumQueries)
      .select(
        col("vec_id").as("query_id"), col("embedding").as("qvec"),
        posexplode(bucketsUdf(col("embedding"))).as(Seq("t", "b")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_e6").desc, col("neighbor_id"))
    corpusBuckets.join(broadcast(queryBuckets), Seq("t", "b"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosE6(col("qvec"), col("embedding")))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
  }

  /** exact-cosine SQL shared by the LSH/embcos oracles — the same
    * sequential-fold dot products as [[bruteForceSql]]'s local helper */
  private def cosSqlOf(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  [CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in range(1, $Dim + 1)]),
         |  (acc, v) -> acc + v)""".stripMargin
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  private val lshTopKSql =
    s"""WITH $bucketCtes,
      |q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  ORDER BY vec_id LIMIT $NumQueries),
      |cand AS (
      |  SELECT DISTINCT q.query_id, k.vec_id AS neighbor_id
      |  FROM q
      |  JOIN keys qk ON qk.vec_id = q.query_id
      |  JOIN keys k ON k.t = qk.t AND k.b = qk.b AND k.vec_id <> q.query_id),
      |scored AS (
      |  SELECT c.query_id, c.neighbor_id,
      |         CAST(floor((${cosSqlOf("q.qvec", "e.embedding")}) * 1000000) AS BIGINT) AS cos_e6
      |  FROM cand c
      |  JOIN q ON q.query_id = c.query_id
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos_e6,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos_e6, rank FROM ranked WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------------------
  // Embedding-cosine near-dup (semantic dedup)
  // ---------------------------------------------------------------------------

  /** cosine threshold above which two vectors count as semantic duplicates */
  val DupThreshold = 0.95

  /** Embedding-cosine near-duplicate accounting, LSH-bucketed: candidate
    * pairs are vectors sharing ≥1 (table, bucket) key — never all pairs —
    * then exact-cosine verified against [[DupThreshold]]. Output is one row
    * per label (candidate/dup counts + the max candidate cosine), so the
    * result is non-empty even on corpora with no duplicates.
    *
    * 100 TB shape: bucket keys are computed in one scan; the self-join is a
    * single shuffle on (table, bucket); verified pairs re-fetch vectors by
    * id (two hash joins) instead of carrying 64-float payloads through the
    * exploded bucket relation.
    */
  def embCosDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val buckets = Tables.loadSpread(s, dir, "embeddings").select(
      col("vec_id"),
      posexplode(bucketsUdf(col("embedding"))).as(Seq("t", "b")))
    val cand = buckets.as("x").hint("shuffle_hash")
      .join(buckets.as("y").hint("shuffle_hash"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("label")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .select(col("label"), cosSim(col("va"), col("vb")).as("cos"))
    val perLabel = scored.groupBy("label").agg(
      count(lit(1)).as("n_candidate_pairs"),
      sum(when(col("cos") >= DupThreshold, 1L).otherwise(0L)).as("n_dups"),
      // floor-integerized per pair BEFORE the max (floor is monotone, so
      // max∘floor = floor∘max — but spelling it per-pair keeps both engines
      // on the identical expression tree)
      max(floor(col("cos") * lit(1e6))).as("max_cos_e6"))
    emb.groupBy("label").agg(count(lit(1)).as("n_vectors"))
      .join(perLabel, Seq("label"), "left")
      .select(
        col("label"), col("n_vectors"),
        coalesce(col("n_candidate_pairs"), lit(0L)).as("n_candidate_pairs"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("max_cos_e6"))
  }

  private val embCosDedupSql =
    s"""WITH $bucketCtes,
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      |  FROM keys x JOIN keys y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id),
      |scored AS (
      |  SELECT ea.label, ${cosSqlOf("ea.embedding", "eb.embedding")} AS cos
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id_a
      |  JOIN embeddings eb ON eb.vec_id = c.id_b),
      |per AS (
      |  SELECT label, count(*) AS n_candidate_pairs,
      |         CAST(sum(CASE WHEN cos >= 95 / 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
      |         CAST(max(floor(cos * 1000000)) AS BIGINT) AS max_cos_e6
      |  FROM scored GROUP BY label),
      |tot AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label)
      |SELECT t.label, t.n_vectors,
      |       CAST(COALESCE(p.n_candidate_pairs, 0) AS BIGINT) AS n_candidate_pairs,
      |       CAST(COALESCE(p.n_dups, 0) AS BIGINT) AS n_dups,
      |       p.max_cos_e6
      |FROM tot t LEFT JOIN per p ON t.label = p.label""".stripMargin

  /** mislabel candidates emitted */
  val NoiseK = 25

  /** Label-noise audit — the ML-data-quality screen cleanlab popularized:
    * vector pairs that are close in embedding space yet carry DIFFERENT
    * labels are the prime suspects for annotation errors. Emits the
    * [[NoiseK]] highest-cosine cross-label pairs among the LSH candidates
    * as a SUSPICION RANKING (no absolute cutoff: the human-review queue
    * wants "the K most suspicious", and a fixed threshold goes silent on
    * corpora whose labels are actually clean). Same md5-portable buckets
    * and sequential-fold cosine as [[embCosDedup]], so the audit
    * hash-gates.
    *
    * 100 TB shape: identical to embCosDedup — candidates only within
    * (table, bucket) keys, vectors re-fetched by id, TakeOrdered cut.
    */
  def labelNoiseAudit(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val buckets = Tables.loadSpread(s, dir, "embeddings").select(
      col("vec_id"),
      posexplode(bucketsUdf(col("embedding"))).as(Seq("t", "b")))
    val cand = buckets.as("x").hint("shuffle_hash")
      .join(buckets.as("y").hint("shuffle_hash"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("label").as("label_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("label").as("label_b")), "id_b")
      .where(col("label_a") =!= col("label_b"))
      .select(col("id_a"), col("id_b"),
        col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"),
        floor(cosSim(col("va"), col("vb")) * lit(1e6)).as("cos_e6"))
    scored
      .orderBy(col("cos_e6").desc, col("id_a"), col("id_b"))
      .limit(NoiseK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos_e6").desc, col("id_a"), col("id_b"))).cast("long"))
  }

  private val labelNoiseAuditSql =
    s"""WITH $bucketCtes,
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      |  FROM keys x JOIN keys y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(ea.label AS BIGINT) AS label_a,
      |         CAST(eb.label AS BIGINT) AS label_b,
      |         CAST(floor((${cosSqlOf("ea.embedding", "eb.embedding")}) * 1000000) AS BIGINT) AS cos_e6
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id_a
      |  JOIN embeddings eb ON eb.vec_id = c.id_b
      |  WHERE ea.label <> eb.label)
      |SELECT id_a, id_b, label_a, label_b, cos_e6, rank FROM (
      |  SELECT *, CAST(row_number() OVER (ORDER BY cos_e6 DESC, id_a, id_b) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= $NoiseK
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------------
  // IVF (inverted-file) ANN
  // ---------------------------------------------------------------------------

  val NumCells = 16 // coarse-quantizer cells
  val NProbe   = 4  // cells probed per query

  /** per-cell cosines of one vector against a flattened cell-major matrix
    * (cell c at offset c*Dim) — the single compiled kernel behind
    * [[bestCellUdf]], [[seedCellUdf]] and [[probeCellsUdf]].
    */
  private def cosRow(emb: Seq[Float], mat: Seq[Double]): Array[Double] = {
    val nCells = mat.length / Dim
    val out = new Array[Double](nCells)
    var c = 0
    while (c < nCells) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < Dim) {
        val x = emb(i).toDouble; val y = mat(c * Dim + i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      out(c) = dot / (math.sqrt(na) * math.sqrt(nb))
      c += 1
    }
    out
  }

  /** 1-based argmax with ties → lower cell id */
  private def argmaxCell(cos: Array[Double]): Int = {
    var best = 0; var c = 1
    while (c < cos.length) { if (cos(c) > cos(best)) best = c; c += 1 }
    best + 1
  }

  /** argmax-cosine cell for one vector against the flattened centroid matrix;
    * cells are 1-indexed to match the centroid relation.
    */
  private val bestCellUdf = udf { (emb: Seq[Float], cmat: Seq[Double]) =>
    argmaxCell(cosRow(emb, cmat))
  }

  /** Per-cell vector mean as ONE typed aggregation: partial state is a
    * Dim-long fixed-point sum vector + count — exact and associative, so
    * centroids are independent of aggregation order (double sums would make
    * the cell assignment — and thus the candidate sets — vary run to run) —
    * and the shuffle carries NumCells partial states of 64 longs, not a
    * 64×-exploded (cell, dim, value) row relation. Components are in [-1, 1];
    * 1e9-scaled longs overflow only past ~9e9 rows per cell-dim, far beyond a
    * cell's share even at 100 TB.
    */
  private object VecMeanAgg
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Float], VecSum, Seq[Double]] {
    def zero: VecSum = VecSum(new Array[Long](Dim), 0L)
    def reduce(b: VecSum, a: Seq[Float]): VecSum = {
      var i = 0
      // floor (not Math.round = floor(x+.5), whose half-up tie diverges from
      // DuckDB's half-away round at negative .5 boundaries) — every quantized
      // component replays as CAST(floor(v*1e9) AS BIGINT)
      while (i < Dim) { b.sums(i) += math.floor(a(i).toDouble * 1e9).toLong; i += 1 }
      VecSum(b.sums, b.n + 1)
    }
    def merge(x: VecSum, y: VecSum): VecSum = {
      var i = 0
      while (i < Dim) { x.sums(i) += y.sums(i); i += 1 }
      VecSum(x.sums, x.n + y.n)
    }
    def finish(b: VecSum): Seq[Double] = {
      val out = new Array[Double](Dim)
      var i = 0
      while (i < Dim) { out(i) = b.sums(i) / 1e9 / b.n; i += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[VecSum] =
      org.apache.spark.sql.Encoders.product[VecSum]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }
  private val vecMean = udaf(VecMeanAgg)

  /** Data-independent seed centroids: md5-derived unit-cube vectors (the
    * SAME portable recipe as the LSH [[planes]], key `ivf:cell:dim`),
    * flattened cell-major. Living in the UDF closure, they cost ZERO Spark
    * jobs — the round-2/3 interim designs spent 3 sequential jobs just
    * selecting and broadcasting data-derived seeds, half the IVF runtime at
    * bench scale. md5 (not splitmix64) because DuckDB regenerates the exact
    * matrix, which is what lets [[ivfTopK]] be hash-gated end to end.
    */
  private lazy val seedMatrix: Array[Double] =
    Array.tabulate(NumCells * Dim) { i => Portable.md5Unit(s"ivf:${i / Dim}:${i % Dim}") }

  /** seed-pass cell assignment against the closure matrix (no cmat column) */
  private val seedCellUdf = udf { (emb: Seq[Float]) =>
    argmaxCell(cosRow(emb,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(seedMatrix)))
  }

  /** IVF index build: data-independent seeds refined by one Lloyd step
    * ([[vecMean]] per assigned cell), flattened to the ONE-row cell-major
    * centroid matrix both query branches broadcast. Two jobs total. Cell ids
    * are 1-based positions in the key-sorted matrix — no single-partition
    * `row_number` window anywhere.
    */
  private[graft] def ivfIndex(emb: DataFrame): DataFrame =
    emb.select(seedCellUdf(col("embedding")).as("cell"), col("embedding"))
      .groupBy("cell").agg(vecMean(col("embedding")).as("cvec"))
      .transform(centroidMatrix)

  /** top-NProbe cells for a query against the flattened centroid matrix —
    * by descending cosine, ties → lower cell id; same fold as [[bestCellUdf]].
    */
  private val probeCellsUdf = udf { (emb: Seq[Float], cmat: Seq[Double]) =>
    val cos = cosRow(emb, cmat)
    (0 until cos.length).sortBy(c => (-cos(c), c)).take(NProbe).map(_ + 1).toArray
  }

  /** centroid relation → ONE row holding the flattened (cell-ordered) matrix;
    * both IVF consumers broadcast this SAME subplan, so the expensive
    * centroid DAG executes once and the second use is a ReusedExchange.
    */
  private def centroidMatrix(cents: DataFrame): DataFrame = {
    val keyCol = cents.columns(0)
    cents
      .groupBy(lit(0).as("g"))
      .agg(array_sort(collect_list(struct(col(keyCol).as("k"), col("cvec")))).as("pairs"))
      .select(flatten(expr("transform(pairs, p -> p.cvec)")).as("cmat"))
  }

  /** ANN top-k via IVF: corpus vectors live in their nearest-centroid cell;
    * each query probes its NProbe nearest cells and exact-cosine re-ranks
    * only those cells' members — per-query work is corpus×NProbe/NumCells,
    * the win over brute force once the corpus is large. At bench scale (2k
    * vectors) the run is dominated by the index build's fixed chain of tiny
    * sequential jobs, which a production deployment builds once and persists;
    * the per-query marginal cost is what scales. Approximate vs brute force
    * (recall < 1 by design) but fully DETERMINISTIC: md5 seed centroids, one
    * Lloyd step in floor-quantized fixed point, centroid means as two
    * correctly-rounded double divisions, cosine argmax/probe orders and the
    * floor-integerized re-rank all replay in DuckDB ([[ivfTopKSql]]) — so the
    * whole float-IVF build-and-serve pipeline is hash-gated like its integer
    * twin [[annIvfTrainedTopK]]; the ScalaTest additionally pins recall
    * against brute force on planted clusters.
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val emb = Tables.load(s, dir, "embeddings")
    // keep the one-row index: Catalyst does not share the index DAG across
    // the corpus-assignment and probe branches. The top-K result is
    // collected and the entry released on return; a production deployment
    // persists the index to a table instead.
    val spread = Tables.loadSpread(s, dir, "embeddings")
    val centsRow = keep(ivfIndex(spread))
    val corpus = spread.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col("embedding"),
        bestCellUdf(col("embedding"), col("cmat")).as("cell"))
    val probes = emb.orderBy("vec_id").limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .crossJoin(broadcast(centsRow))
      .select(col("query_id"), col("qvec"),
        explode(probeCellsUdf(col("qvec"), col("cmat"))).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_e6").desc, col("neighbor_id"))
    corpus.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosE6(col("qvec"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
  }

  /** DuckDB replay of the ENTIRE [[ivfTopK]] pipeline: md5 seed matrix →
    * seed-cosine argmax assignment → one Lloyd step (floor-1e9 fixed-point
    * component sums, mean = two double divisions) → positional re-keying of
    * the key-sorted surviving cells ([[centroidMatrix]]) → corpus assignment
    * and NProbe probe cells against the refined centroids → candidate
    * re-rank on floor(cos·1e6). Every double op is a correctly-rounded
    * IEEE primitive both engines share; every sum is sequential-fold or
    * integer-exact.
    */
  /** shared oracle CTE chain replaying the coarse IVF quantizer: md5 seed
    * matrix `sm` → seed argmax assignment `sa` → one fixed-point Lloyd step
    * (`csum`/`cent`) → positional re-keying `centk` → final corpus
    * assignment `ca (vec_id, cell2)` — the prefix of [[ivfTopKSql]], also
    * composed by the IVF-PQ oracle ([[annIvfPqTopKSql]]).
    */
  private def ivfCoarseCtes: String =
    s"""sm AS (
      |  SELECT c,
      |         [${Portable.md5UnitSql("'ivf:' || CAST(c AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")}
      |          for i in range(1, $Dim + 1)] AS w
      |  FROM range($NumCells) cc(c)),
      |seedcos AS (
      |  SELECT e.vec_id, sm.c, ${cosSqlOf("e.embedding", "sm.w")} AS cos
      |  FROM embeddings e, sm),
      |sa AS (
      |  SELECT vec_id, c + 1 AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn
      |    FROM seedcos)
      |  WHERE rn = 1),
      |csum AS (
      |  SELECT sa.cell, t.i,
      |         CAST(sum(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000000) AS BIGINT)) AS BIGINT) AS s,
      |         count(*) AS n
      |  FROM sa JOIN embeddings e USING (vec_id), unnest(range(1, $Dim + 1)) AS t(i)
      |  GROUP BY sa.cell, t.i),
      |cent AS (
      |  SELECT cell, list(s / 1000000000 / n ORDER BY i) AS cv
      |  FROM csum GROUP BY cell),
      |centk AS (
      |  SELECT CAST(row_number() OVER (ORDER BY cell) AS INTEGER) AS cell2, cv
      |  FROM cent),
      |corpcos AS (
      |  SELECT e.vec_id, k.cell2, ${cosSqlOf("e.embedding", "k.cv")} AS cos
      |  FROM embeddings e, centk k),
      |ca AS (
      |  SELECT vec_id, cell2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell2) AS rn
      |    FROM corpcos)
      |  WHERE rn = 1)""".stripMargin

  private val ivfTopKSql =
    s"""WITH $ivfCoarseCtes,
      |q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  ORDER BY vec_id LIMIT $NumQueries),
      |qcos AS (
      |  SELECT q.query_id, k.cell2, ${cosSqlOf("q.qvec", "k.cv")} AS cos
      |  FROM q, centk k),
      |probes AS (
      |  SELECT query_id, cell2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cell2) AS rn
      |    FROM qcos)
      |  WHERE rn <= $NProbe),
      |cand AS (
      |  SELECT p.query_id, ca.vec_id AS neighbor_id
      |  FROM probes p JOIN ca ON ca.cell2 = p.cell2
      |  WHERE ca.vec_id <> p.query_id),
      |scored AS (
      |  SELECT c.query_id, c.neighbor_id,
      |         CAST(floor((${cosSqlOf("q.qvec", "e.embedding")}) * 1000000) AS BIGINT) AS cos_e6
      |  FROM cand c
      |  JOIN q ON q.query_id = c.query_id
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos_e6,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos_e6, rank FROM ranked WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------------------
  // Persisted IVF index
  // ---------------------------------------------------------------------------

  /** Persist the IVF index: the 1-row flattened centroid matrix plus every
    * vector's cell assignment, written as CELL-PARTITIONED parquet. This is
    * the production shape [[ivfTopK]]'s scaladoc promises: build once, and a
    * query's NProbe cell probes become PARTITION-PRUNED file reads — the
    * scan touches NProbe/NumCells of the corpus bytes, which is the entire
    * point of an inverted-file index at 100 TB (the in-memory variant
    * rebuilds per call because the driver bench is stateless).
    */
  def writeIvfIndex(emb: DataFrame, path: String): Unit = {
    ivfIndex(emb).write.mode("overwrite").parquet(s"$path/centroids")
    // assign cells from the PERSISTED centroids, not a second evaluation of
    // the index DAG: the two stored artifacts must come from one centroid
    // set (and the build's most expensive phase must run once)
    val cents = emb.sparkSession.read.parquet(s"$path/centroids")
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        bestCellUdf(col("embedding"), col("cmat")).as("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Incremental index maintenance: assign NEW vectors to the index's
    * EXISTING persisted centroids and append them to their cell partitions —
    * the standard IVF serving discipline (FAISS `add`): ingesting a batch
    * must not retrain the coarse quantizer or rewrite the corpus, or index
    * maintenance at 100 TB costs a full rebuild per arrival. Cost is one
    * scan of the NEW batch (centroid matrix broadcast, narrow argmax) + an
    * append-mode write into the touched `cell=` dirs; existing members are
    * untouched bytes. Centroid drift from accumulated appends is a
    * REBUILD-policy decision (re-run [[writeIvfIndex]] when recall decays);
    * IvfIndexSpec pins that build(A)+append(B) searches exactly like
    * build-with-same-centroids over A∪B.
    */
  def appendIvfIndex(newEmb: DataFrame, path: String): Unit = {
    val cents = newEmb.sparkSession.read.parquet(s"$path/centroids")
    newEmb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        bestCellUdf(col("embedding"), col("cmat")).as("cell"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** ANN top-k against a persisted index, two-phase like every inverted-file
    * service: (1) resolve the queries' probe CELLS, (2) scan only those
    * cells' partitions. Phase 2's pruning is a STATIC `cell IN (...)`
    * partition filter built from the probed cell ids — the one deliberate
    * driver-side materialization in the library, and it collects PARTITION
    * KEYS only (≤ queries × NProbe ints; the vectors never leave the
    * executors). This is the same set Spark's dynamic partition pruning
    * materializes in its subquery; spelled explicitly because DPP's benefit
    * heuristic skips filter-less broadcast sides. Results are identical to
    * [[ivfTopK]] (same deterministic seed centroids → same assignment) —
    * IvfIndexSpec pins the equivalence and the pruned scan.
    */
  def ivfTopKIndexed(s: SparkSession, indexPath: String, queries: DataFrame): DataFrame = {
    val cents = s.read.parquet(s"$indexPath/centroids")
    // erased vectors ([[eraseFromIvfIndex]] / [[propagateIvfErasures]]) are
    // subtracted merge-on-read — cell files stay immutable under GDPR
    val members = Erasure.subtract(s, indexPath, "vec_id")(
      s.read.parquet(s"$indexPath/cells"))
    // probes is a trivial plan (queries × a 1-row matrix) evaluated twice —
    // once for the key collect, once inside the join. Deliberately NOT
    // cache()d: a service session calling this per request would leak one
    // CacheManager entry per distinct query batch, and the recompute is
    // cheaper than the bookkeeping.
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("qvec"),
        explode(probeCellsUdf(col("qvec"), col("cmat"))).as("cell"))
    val probedCells = probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val w = Window.partitionBy("query_id").orderBy(col("cos_e6").desc, col("neighbor_id"))
    members
      .where(col("cell").isInCollection(probedCells))
      .join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosE6(col("qvec"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
  }

  /** direct GDPR erasure of vectors from a persisted IVF or IVF-PQ index —
    * tombstone sidecar append, cell/code files untouched ([[Erasure.erase]];
    * both layouts serve through the same vec_id subtraction)
    */
  def eraseFromIvfIndex(s: SparkSession, indexPath: String, vecIds: DataFrame,
      ver: Long = Long.MaxValue): Unit =
    Erasure.erase(s, indexPath, vecIds, "vec_id", ver)

  /** propagate the embeddings table's deletes into a persisted IVF / IVF-PQ
    * index through the table-log change feed — [[Erasure.propagate]]'s
    * net-effect / resurrection / exactly-once laws on vec_id
    */
  def propagateIvfErasures(
      s: SparkSession, embTable: String, indexPath: String,
      cursorFile: String): Option[(Long, Long)] =
    Erasure.propagate(s, embTable, indexPath, cursorFile, "vec_id")

  // ---------------------------------------------------------------------------
  // Persisted IVF-PQ index (coarse cells + PQ codes — the production layout)
  // ---------------------------------------------------------------------------

  /** [[probeCellsUdf]] with a caller-chosen probe count (the spec probes ALL
    * cells to pin exact identity with the global in-memory ADC serve).
    */
  private val probeCellsNUdf = udf { (emb: Seq[Float], cmat: Seq[Double], n: Int) =>
    val cos = cosRow(emb, cmat)
    (0 until cos.length).sortBy(c => (-cos(c), c)).take(n).map(_ + 1).toArray
  }

  /** Persist the full IVF-PQ layout (FAISS `IndexIVFPQ`'s on-disk shape):
    *  - `centroids/`  — the 1-row coarse centroid matrix ([[ivfIndex]]);
    *  - `codebooks/`  — the [[PqM]]×[[PqK]] trained PQ codebooks
    *                    ([[pqStateOf]], one Lloyd round, integer-exact);
    *  - `codes/`      — per vector: coarse cell + its [[PqM]] PQ codes,
    *                    CELL-PARTITIONED parquet.
    * At serving time a query reads NProbe/NumCells of the `codes` bytes
    * (partition-pruned) and each candidate costs [[PqM]] table lookups on
    * small-int codes — the corpus floats are read by NO query: that is the
    * 100 TB posture (codes are ~256× smaller than the float corpus).
    * Codes are assigned from the PERSISTED artifacts, not a second
    * evaluation of the training DAGs, so both stored relations come from
    * one centroid/codebook set.
    */
  def writeIvfPqIndex(emb: DataFrame, path: String): Unit = {
    ivfIndex(emb).write.mode("overwrite").parquet(s"$path/centroids")
    // the codebook training scans the sub-vectors twice (seeds + assign);
    // blocking release: a non-blocking one leaves dead blocks behind in a
    // long-lived JVM (the round-12 kcore drift)
    val sub = subVecs(emb).cache()
    val c1 = try pqStateOf(sub)._1 finally sub.unpersist(blocking = true)
    c1.write.mode("overwrite").parquet(s"$path/codebooks")
    appendIvfPqIndex(emb, path, overwrite = true)
  }

  /** Incremental IVF-PQ maintenance (FAISS `add` discipline, like
    * [[appendIvfIndex]]): new vectors are coarse-assigned and PQ-coded
    * against the index's EXISTING persisted centroids/codebooks and appended
    * into their cell partitions — one scan of the new batch, no retraining,
    * existing members untouched. Quantizer drift is a rebuild-policy call.
    */
  def appendIvfPqIndex(newEmb: DataFrame, path: String,
      overwrite: Boolean = false): Unit = {
    val s = newEmb.sparkSession
    val cents = s.read.parquet(s"$path/centroids")
    val books = s.read.parquet(s"$path/codebooks")
    newEmb.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        bestCellUdf(col("embedding"), col("cmat")).as("cell"),
        posexplode(subVecsUdf(quantUdf(col("embedding")))).as(Seq("m", "xs")))
      .join(broadcast(centroidMatrixByM(books)), Seq("m"))
      .select(col("vec_id"), col("cell"), col("m"),
        nearestSubUdf(col("xs"), col("keys"), col("cmatq")).as("a"))
      .select(col("vec_id"), col("m"), col("a._1").as("code"), col("cell"))
      .repartition(col("cell"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("cell").parquet(s"$path/codes")
  }

  /** ANN top-k served from a persisted IVF-PQ index: coarse-probe the
    * queries' nProbe cells, PARTITION-PRUNE the codes scan to those cells
    * (static `cell IN (...)` — the same deliberate key-only collect as
    * [[ivfTopKIndexed]], ≤ queries×nProbe ints), then ADC: per-query
    * distance tables to the persisted codebooks (broadcast — KBs) and a
    * candidate's distance is Σ of [[PqM]] lookups on its codes. With
    * nProbe = [[NumCells]] this is bit-identical to the in-memory
    * [[annPqTopK]] (IvfIndexSpec pins it); at the default [[NProbe]] it is
    * the IVF-restricted serve the oracle of `ann_ivfpq_topk` replays.
    */
  def annPqTopKIndexed(s: SparkSession, indexPath: String, queries: DataFrame,
      nProbe: Int = NProbe): DataFrame = {
    val cents = s.read.parquet(s"$indexPath/centroids")
    val books = s.read.parquet(s"$indexPath/codebooks")
    // same merge-on-read erasure subtraction as [[ivfTopKIndexed]]
    val codes = Erasure.subtract(s, indexPath, "vec_id")(
      s.read.parquet(s"$indexPath/codes"))
    val dt = queries
      .select(col("vec_id").as("q_id"),
        posexplode(subVecsUdf(quantUdf(col("embedding")))).as(Seq("m", "xs")))
      .join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("m"), col("cell").as("code"),
        intL2DimUdf(col("xs"), col("c")).as("d"))
    val probes = queries
      .select(col("vec_id").as("q_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"),
        explode(probeCellsNUdf(col("embedding"), col("cmat"), lit(nProbe))).as("cell"))
    val probedCells = probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val topk = udaf(new graft.operators.TopKAgg(PqTopK))
    codes.where(col("cell").isInCollection(probedCells))
      .join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .join(broadcast(dt), Seq("q_id", "m", "code"))
      .groupBy("q_id", "vec_id").agg(sum(col("d")).as("dist"))
      .groupBy("q_id")
      .agg(topk(-col("dist"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), (-col("col.v")).as("dist"))
  }

  /** memoized per-data-dir IVF-PQ index build (pid-scoped scratch path) */
  private val ivfPqBuilt = graft.Scratch.fixture[String]("graft_ivfpq")
  private def ivfPqIndexPath(s: SparkSession, dir: String): String =
    ivfPqBuilt(dir) { path =>
      writeIvfPqIndex(Tables.loadSpread(s, dir, "embeddings"), path)
      path
    }

  /** `ann_ivfpq_topk` — end-to-end persisted IVF-PQ: build (memoized) →
    * serve the first-5 query set with the default [[NProbe]] cell probes.
    * The oracle replays coarse training/assignment ([[ivfCoarseCtes]]), PQ
    * training/coding ([[pqCtes]]), the probe ranking AND the ADC serve —
    * every step exact integer or correctly-rounded-double arithmetic, so
    * the full production index lifecycle is hash-gated cross-engine.
    */
  def annIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val path = ivfPqIndexPath(s, dir)
    val queries = Tables.load(s, dir, "embeddings").where(col("vec_id") < 5)
    annPqTopKIndexed(s, path, queries)
  }

  // lazy: interpolates PqM/PqK/PqTopK, declared further down the object
  private lazy val annIvfPqTopKSql =
    s"""WITH $ivfCoarseCtes,
      |$pqCtes,
      |q2 AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 5),
      |qc AS (
      |  SELECT q2.q_id, k.cell2, ${cosSqlOf("q2.embedding", "k.cv")} AS cos
      |  FROM q2, centk k),
      |qprobes AS (
      |  SELECT q_id, cell2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cell2) AS rn
      |    FROM qc)
      |  WHERE rn <= $NProbe),
      |qdt AS (
      |  SELECT s.vec_id AS q_id, s.m, k.cell, ${sqlSubDist("s.xs", "k.c")} AS d
      |  FROM sub s JOIN pc1 k ON k.m = s.m
      |  WHERE s.vec_id < 5),
      |candq AS (
      |  SELECT p.q_id, ca.vec_id
      |  FROM qprobes p JOIN ca ON ca.cell2 = p.cell2
      |  WHERE ca.vec_id <> p.q_id),
      |pairq AS (
      |  SELECT c.q_id, c.vec_id, CAST(sum(dt.d) AS BIGINT) AS dist
      |  FROM candq c
      |  JOIN codes ON codes.vec_id = c.vec_id
      |  JOIN qdt dt ON dt.q_id = c.q_id AND dt.m = codes.m AND dt.cell = codes.cell
      |  GROUP BY c.q_id, c.vec_id),
      |rq AS (
      |  SELECT q_id, vec_id, dist,
      |         row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rank
      |  FROM pairq)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, dist FROM rq
      |WHERE rank <= $PqTopK""".stripMargin

  /** Per-label centroid statistics — element-wise stats over floor-1e6
    * fixed-point values (integer accumulation ⇒ row-order-independent exact
    * sums; the mean is derivable as sum/n by any consumer). The previous
    * round(v, 6) → DECIMAL(18,6) form was the latent cross-engine half-up
    * tie class, and its decimal sum cast back to double diverges past 2^53
    * (CLAUDE.md) — emit the scaled BIGINT sum itself instead.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.loadSpread(s, dir, "embeddings")
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), floor(col("v").cast("double") * lit(1e6)).as("v_e6"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_values"),
        sum(col("v_e6")).as("sum_component_e6"),
        max(col("v_e6")).as("max_component_e6"))
  }

  private val labelCentroidsSql =
    """WITH x AS (
      |  SELECT label,
      |         CAST(floor(CAST(v.val AS DOUBLE) * 1000000) AS BIGINT) AS v_e6
      |  FROM embeddings, unnest(embedding) AS v(val))
      |SELECT label, count(*) AS n_values,
      |       CAST(sum(v_e6) AS BIGINT) AS sum_component_e6,
      |       max(v_e6) AS max_component_e6
      |FROM x GROUP BY label""".stripMargin

  /** fused list depth and the standard RRF damping constant */
  val FusedK = 10
  val RrfC   = 60

  /** Hybrid retrieval with reciprocal-rank fusion — the RAG-stack pattern of
    * fusing a DENSE ranking (embedding cosine) with a SPARSE one (distinct
    * token overlap with the query document) per query:
    * rrf = 1/(C+r_dense) + 1/(C+r_sparse), top-[[FusedK]] by fused score.
    *
    * Fully oracle-gated: both ranks are total orders (6-dp score, id
    * tie-break), and the RRF score is spelled as two int/int divisions and
    * one sum — three correctly-rounded IEEE ops both engines evaluate
    * identically (the CLAUDE.md rational-form rule; a `0.0164...` literal
    * would parse as DECIMAL in DuckDB and diverge).
    *
    * Scale notes (100 TB posture): queries broadcast (embedding + token set
    * per query — KBs); the corpus side is one pass, and both rank windows
    * partition by query_id, so each sort is one query's candidate list. At
    * real scale the candidate set comes from the ANN index + an inverted
    * index (top-N each) instead of the full corpus — the fusion plan is
    * unchanged, only the candidate generators narrow.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), array_distinct(TextStats.tokensCol).as("toks"))
    // corpus = embeddings ⋈ documents on id (the tables ship different row
    // counts at sf0.1 — the intersection is the retrievable corpus)
    val corpus = Tables.loadSpread(s, dir, "embeddings")
      .join(toks, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("toks"))
    val queries = corpus.orderBy("vec_id").limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("toks").as("qtoks"))
    val scored = corpus.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("cand_id"),
        floor(cosSim(col("qvec"), col("embedding")) * lit(1e6)).as("cos6"),
        size(array_intersect(col("toks"), col("qtoks"))).as("overlap"))
    val byQ = Window.partitionBy("query_id")
    val ranked = scored
      .withColumn("dense_rank", row_number().over(
        byQ.orderBy(col("cos6").desc, col("cand_id"))))
      .withColumn("sparse_rank", row_number().over(
        byQ.orderBy(col("overlap").desc, col("cand_id"))))
      .withColumn("rrf",
        lit(1) / (lit(RrfC) + col("dense_rank")) +
          lit(1) / (lit(RrfC) + col("sparse_rank")))
    ranked
      .withColumn("fused_rank", row_number().over(
        byQ.orderBy(col("rrf").desc, col("cand_id"))))
      .where(col("fused_rank") <= FusedK)
      .select(col("query_id"), col("fused_rank"), col("cand_id"),
        col("dense_rank"), col("sparse_rank"), col("rrf"))
  }

  private val hybridRrfSql = {
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  [CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, $Dim + 1)]),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH tok AS (
      |  SELECT doc_id,
      |         list_distinct(list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '')) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT e.vec_id, e.embedding, t.toks
      |  FROM embeddings e JOIN tok t ON e.vec_id = t.doc_id),
      |q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec, toks AS qtoks
      |  FROM c ORDER BY vec_id LIMIT $NumQueries),
      |scored AS (
      |  SELECT query_id, c.vec_id AS cand_id,
      |         CAST(floor(${dotSql("qvec", "c.embedding")}
      |           / (sqrt(${dotSql("qvec", "qvec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) * 1000000) AS BIGINT)
      |           AS cos6,
      |         len(list_intersect(c.toks, q.qtoks)) AS overlap
      |  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      |r AS (
      |  SELECT query_id, cand_id,
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, cand_id) AS INTEGER) AS dense_rank,
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY overlap DESC, cand_id) AS INTEGER) AS sparse_rank
      |  FROM scored),
      |f AS (
      |  SELECT query_id, cand_id, dense_rank, sparse_rank,
      |         1 / ($RrfC + dense_rank) + 1 / ($RrfC + sparse_rank) AS rrf
      |  FROM r)
      |SELECT query_id,
      |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS INTEGER) AS fused_rank,
      |       cand_id, dense_rank, sparse_rank, rrf
      |FROM f
      |QUALIFY fused_rank <= $FusedK""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // k-means training (exact integer space → oracle-gated)
  // ---------------------------------------------------------------------------

  /** [[kmeansTrain]] geometry: k centroids, fixed Lloyd rounds. */
  val KmK     = 8
  val KmIters = 2

  /** embedding → scale-quantized integer vector: every distance and centroid
    * below is exact 64-bit arithmetic, which is what lets a TRAINING LOOP be
    * hash-gated cross-engine (float k-means never is — Σ of doubles is
    * aggregation-order-dependent, so two runs disagree in the last ulp and
    * assignments flip).
    */
  private[llm] def quantAt(scale: Double) = udf { emb: Seq[Float] =>
    val out = new Array[Long](Dim)
    var i = 0
    while (i < Dim) {
      out(i) = math.floor(emb(i).toDouble * scale).toLong; i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
  private val quantUdf = quantAt(1e6)

  /** nearest centroid by squared-L2 over the flattened key-sorted matrix;
    * ties → lower cell id (strict < keeps the first of the ascending keys).
    * Returns (cell, distance) so the final pass gets inertia for free.
    */
  private val nearestCellUdf = udf { (x: Seq[Long], keys: Seq[Long], cmatq: Seq[Long]) =>
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < keys.length) {
      var d = 0L; var i = 0
      while (i < Dim) { val t = x(i) - cmatq(c * Dim + i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (keys(best), bestD)
  }

  /** Per-cell integer centroid as ONE typed aggregation (same shape as
    * [[VecMeanAgg]]): exact long sums + count, `floor(sum/n)` per component
    * at finish — the floor of an exact-in-double quotient, which DuckDB
    * reproduces verbatim.
    */
  private object QVecMeanAgg
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], VecSum, Seq[Long]] {
    def zero: VecSum = VecSum(new Array[Long](Dim), 0L)
    def reduce(b: VecSum, a: Seq[Long]): VecSum = {
      var i = 0
      while (i < Dim) { b.sums(i) += a(i); i += 1 }
      VecSum(b.sums, b.n + 1)
    }
    def merge(x: VecSum, y: VecSum): VecSum = {
      var i = 0
      while (i < Dim) { x.sums(i) += y.sums(i); i += 1 }
      VecSum(x.sums, x.n + y.n)
    }
    def finish(b: VecSum): Seq[Long] = {
      val out = new Array[Long](Dim)
      var i = 0
      while (i < Dim) {
        out(i) = math.floor(b.sums(i).toDouble / b.n).toLong; i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[VecSum] =
      org.apache.spark.sql.Encoders.product[VecSum]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }
  private val qVecMean = udaf(QVecMeanAgg)

  /** centroid relation → one broadcastable row: ascending cell keys + the
    * flattened key-sorted matrix (the [[centroidMatrix]] discipline, with the
    * key array kept so cell ids survive an empty cell dropping out).
    */
  private def centroidMatrixQ(cents: DataFrame): DataFrame =
    cents.groupBy(lit(0).as("g"))
      .agg(array_sort(collect_list(struct(col("cell").as("k"), col("c")))).as("pairs"))
      .select(expr("transform(pairs, p -> p.k)").as("keys"),
        flatten(expr("transform(pairs, p -> p.c)")).as("cmatq"))

  /** Distributed k-means TRAINING (Lloyd's algorithm, [[KmIters]] rounds,
    * seeds = the first [[KmK]] corpus vectors): per round, assignment is a
    * narrow projection against the broadcast 1-row centroid matrix (corpus
    * never shuffles for it — the round-2 lesson from `assignCells`), and the
    * update is one hash aggregate carrying k partial states of 64 longs.
    * Everything — quantization, distances, floor-mean centroids, inertia —
    * is exact integer/floor arithmetic, so the DuckDB oracle replays the
    * SAME training trajectory and the gate compares final cluster sizes,
    * inertia and centroid checksums bit-for-bit. This is the trainer behind
    * [[ivfIndex]]'s one-step refinement, promoted to a multi-round loop.
    */
  def kmeansTrain(s: SparkSession, dir: String): DataFrame =
    kmeansCore(s, dir, KmIters)

  private val quantizedCache = graft.Memo.base()

  /** trained k-means state: (quantized corpus, trained centroid relation,
    * assignment function) — shared by the training gate, the trained-IVF
    * search and semantic dedup. The quantized corpus is a per-dir memo
    * (multiple consumers); the [[KmK]] trained centroids are O(1) MODEL
    * state, collected once and re-entered as a local relation (the
    * perceptron / PCA discipline), so no query holds a cache for them.
    */
  private[graft] def kmeansState(
      s: SparkSession, dir: String, iters: Int)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val xq = quantizedCache(dir) { d =>
      Tables.loadSpread(s, d, "embeddings")
        .select(col("vec_id"), quantUdf(col("embedding")).as("x"))
    }
    val c0 = xq.where(col("vec_id") < KmK)
      .select((col("vec_id") + 1).as("cell"), col("x").as("c"))
    def assign(cents: DataFrame): DataFrame =
      xq.crossJoin(broadcast(centroidMatrixQ(cents)))
        .select(col("vec_id"), col("x"),
          nearestCellUdf(col("x"), col("keys"), col("cmatq")).as("a"))
        .select(col("vec_id"), col("x"),
          col("a._1").as("cell"), col("a._2").as("d"))
    val trained = Localize { _ =>
      (1 to iters).foldLeft(c0) { (cents, _) =>
        assign(cents).groupBy("cell").agg(qVecMean(col("x")).as("c"))
      }
    }
    (xq, trained, assign)
  }

  /** iteration-parameterized core (KmeansSpec pins that training does not
    * increase inertia round over round)
    */
  private[graft] def kmeansCore(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val (_, trained, assign) = kmeansState(s, dir, iters)
    val members = assign(trained)
    members.groupBy("cell")
      .agg(count(lit(1)).as("n_members"), sum(col("d")).as("inertia"))
      .join(trained.select(col("cell"),
        expr("aggregate(c, 0L, (acc, v) -> acc + v)").as("c_sum")), "cell")
  }

  /** DuckDB rendering of the integer squared-L2 between two list columns */
  private def sqlDist(xs: String, cs: String) =
    s"list_sum([ ($xs[i] - $cs[i]) * ($xs[i] - $cs[i]) for i in range(1, ${Dim + 1}) ])"

  /** shared oracle CTE chain replaying the k-means trajectory: quantized
    * corpus `xq`, seeds `c0`, per-round assign/update up to `c<KmIters>`,
    * and the final assignment `af (vec_id, x, cell, d)` — both the training
    * gate and the trained-IVF search gate build on the SAME trained state.
    */
  private def kmeansCtes: String = {
    def round(n: Int) =
      s"""d$n AS (
        |  SELECT vec_id, x, cell, ${sqlDist("x", "c")} AS d
        |  FROM xq, c${n - 1}),
        |a$n AS (
        |  SELECT vec_id, x, cell, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |    FROM d$n)
        |  WHERE rn = 1),
        |s$n AS (
        |  SELECT cell, i,
        |         CAST(floor(CAST(sum(x[i]) AS BIGINT) / count(*)) AS BIGINT) AS ci
        |  FROM a$n, unnest(range(1, ${Dim + 1})) AS t(i)
        |  GROUP BY cell, i),
        |c$n AS (SELECT cell, list(ci ORDER BY i) AS c FROM s$n GROUP BY cell)""".stripMargin
    s"""xq AS (
      |  SELECT vec_id,
      |         [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |          for i in range(1, len(embedding) + 1)] AS x
      |  FROM embeddings),
      |c0 AS (SELECT vec_id + 1 AS cell, x AS c FROM xq WHERE vec_id < $KmK),
      |${(1 to KmIters).map(round).mkString(",\n")},
      |df AS (
      |  SELECT vec_id, x, cell, ${sqlDist("x", "c")} AS d
      |  FROM xq, c$KmIters),
      |af AS (
      |  SELECT vec_id, x, cell, d FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM df)
      |  WHERE rn = 1)""".stripMargin
  }

  private val kmeansTrainSql =
    s"""WITH $kmeansCtes,
      |cs AS (SELECT cell, CAST(list_sum(c) AS BIGINT) AS c_sum FROM c$KmIters)
      |SELECT cell, count(*) AS n_members, CAST(sum(d) AS BIGINT) AS inertia, c_sum
      |FROM af JOIN cs USING (cell)
      |GROUP BY cell, c_sum""".stripMargin

  /** cells each query probes in the trained index */
  val TrainedProbes = 2

  /** compiled integer squared-L2 between two quantized vectors */
  private val intL2Udf = udf { (a: Seq[Long], b: Seq[Long]) =>
    var d = 0L; var i = 0
    while (i < Dim) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** top-[[TrainedProbes]] cells for a query — ascending integer L2 against
    * the flattened trained matrix, ties → lower cell id (the probe twin of
    * [[nearestCellUdf]])
    */
  private val probeCellsQUdf = udf { (x: Seq[Long], keys: Seq[Long], cmatq: Seq[Long]) =>
    val scored = keys.indices.map { c =>
      var d = 0L; var i = 0
      while (i < Dim) { val t = x(i) - cmatq(c * Dim + i); d += t * t; i += 1 }
      (d, keys(c))
    }
    scored.sorted.take(TrainedProbes).map(_._2).toArray
  }

  /** ANN through the TRAINED index, oracle-exact end to end: the k-means
    * trajectory ([[kmeansState]]), the corpus cell assignment, each query's
    * probed cells, candidate integer L2 scores and the tie-broken top-k all
    * replay bit-for-bit in DuckDB — an approximate-NN search whose entire
    * index-build-and-serve pipeline is hash-gated, where the float IVF
    * ([[ivfTopK]]) can only pin recall. Same serving shape as production:
    * centroids broadcast, queries explode to (cell, query) probes, the join
    * touches only probed cells' members, per-query top-k is the
    * bounded-state aggregate.
    */
  def annIvfTrainedTopK(s: SparkSession, dir: String): DataFrame = {
    val (xq, trained, assign) = kmeansState(s, dir, KmIters)
    val corpusCells = assign(trained).select("cell", "vec_id", "x")
    val queries = xq.where(col("vec_id") < 5)
      .crossJoin(broadcast(centroidMatrixQ(trained)))
      .select(col("vec_id").as("q_id"), col("x").as("qx"),
        explode(probeCellsQUdf(col("x"), col("keys"), col("cmatq"))).as("cell"))
    val topk10 = udaf(new graft.operators.TopKAgg(10))
    corpusCells.join(queries, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), intL2Udf(col("x"), col("qx")).as("dist"))
      .groupBy("q_id")
      .agg(topk10(-col("dist"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), (-col("col.v")).as("dist"))
  }

  private val annIvfTrainedTopKSql =
    s"""WITH $kmeansCtes,
      |q AS (SELECT vec_id AS q_id, x AS qx FROM xq WHERE vec_id < 5),
      |pd AS (SELECT q_id, qx, cell, ${sqlDist("qx", "c")} AS d FROM q, c$KmIters),
      |probes AS (
      |  SELECT q_id, qx, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, cell) AS rn
      |    FROM pd)
      |  WHERE rn <= $TrainedProbes),
      |cand AS (
      |  SELECT q_id, af.vec_id AS vec_id, ${sqlDist("af.x", "qx")} AS d
      |  FROM probes JOIN af USING (cell)
      |  WHERE af.vec_id <> q_id),
      |r AS (
      |  SELECT q_id, vec_id, CAST(d AS BIGINT) AS dist,
      |         row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rank
      |  FROM cand)
      |SELECT q_id, rank, vec_id, dist FROM r WHERE rank <= 10""".stripMargin


  /** ANN over the int8-QUANTIZED corpus: symmetric scale quantization
    * (`floor(v·127)`), integer dot-product scoring, and per-query top-k
    * through the bounded-state [[graft.operators.TopKAgg]] — so unlike the
    * float-cosine [[bruteForceTopK]] (whose oracle leans on careful double
    * discipline), EVERY step here is exact 64-bit arithmetic and the DuckDB
    * oracle replays scores and ranking bit-for-bit. This is the serving-side
    * complement of [[embQuantizeInt8]]: quantize once, search in integers
    * (4× less bandwidth, SIMD-friendly on a real deployment). Queries
    * broadcast; the corpus never shuffles — map-side partial top-k means
    * ≤ k rows per query per task reach the final aggregate.
    */
  def annInt8TopK(s: SparkSession, dir: String): DataFrame = {
    val topk10 = udaf(new graft.operators.TopKAgg(10))
    val xq = Tables.loadSpread(s, dir, "embeddings")
      .select(col("vec_id"), quantAt(127)(col("embedding")).as("x"))
    val queries = xq.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("x").as("qx"))
    xq.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("q_id"))
      // native codegen expression — the dot loop inlines into the generated
      // stage (a UDF would box Seq[Long] per row); also SQL-callable as
      // int_dot(...) via GraftExtensions
      .select(col("q_id"), col("vec_id"),
        org.apache.spark.sql.graftx.IntDotProduct(col("x"), col("qx")).as("dot"))
      .groupBy("q_id")
      .agg(topk10(col("dot"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), col("col.v").as("dot"))
  }

  private val annInt8TopKSql =
    s"""WITH xq AS (
      |  SELECT vec_id,
      |         [CAST(floor(CAST(embedding[i] AS DOUBLE) * 127) AS BIGINT)
      |          for i in range(1, len(embedding) + 1)] AS x
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, x AS qx FROM xq WHERE vec_id < 5),
      |d AS (
      |  SELECT q_id, vec_id,
      |         CAST(list_sum([ x[i] * qx[i] for i in range(1, ${Dim + 1}) ]) AS BIGINT) AS dot
      |  FROM xq, q WHERE vec_id <> q_id),
      |r AS (
      |  SELECT q_id, vec_id, dot,
      |         row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rank
      |  FROM d)
      |SELECT q_id, rank, vec_id, dot FROM r WHERE rank <= 10""".stripMargin

  // ---------------------------------------------------------------------------
  // Product quantization (PQ) + asymmetric-distance ANN
  // ---------------------------------------------------------------------------

  /** PQ geometry: [[PqM]] subspaces × [[PqSub]] dims each (= [[Dim]]),
    * [[PqK]] centroids per subspace → codes are PqM bytes per vector (a
    * 256× compression of the float corpus at serving time).
    */
  val PqM    = 8
  val PqSub  = 8
  val PqK    = 8
  val PqTopK = 10

  /** quantized 64-vector → its [[PqM]] sub-vectors (cheap compiled split) */
  private val subVecsUdf = udf { x: Seq[Long] =>
    (0 until PqM).map(m => x.slice(m * PqSub, (m + 1) * PqSub)): Seq[Seq[Long]]
  }

  /** per-(subspace, cell) integer centroid: exact long sums + count,
    * `floor(sum/n)` per component — the [[PqSub]]-dim twin of [[QVecMeanAgg]]
    */
  private object PqMeanAgg
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], VecSum, Seq[Long]] {
    def zero: VecSum = VecSum(new Array[Long](PqSub), 0L)
    def reduce(b: VecSum, a: Seq[Long]): VecSum = {
      var i = 0
      while (i < PqSub) { b.sums(i) += a(i); i += 1 }
      VecSum(b.sums, b.n + 1)
    }
    def merge(x: VecSum, y: VecSum): VecSum = {
      var i = 0
      while (i < PqSub) { x.sums(i) += y.sums(i); i += 1 }
      VecSum(x.sums, x.n + y.n)
    }
    def finish(b: VecSum): Seq[Long] = {
      val out = new Array[Long](PqSub)
      var i = 0
      while (i < PqSub) {
        out(i) = math.floor(b.sums(i).toDouble / b.n).toLong; i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[VecSum] =
      org.apache.spark.sql.Encoders.product[VecSum]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }
  private val pqMean = udaf(PqMeanAgg)

  /** nearest (cell, dist²) over a flattened key-sorted sub-matrix — the
    * dimension-generic twin of [[nearestCellUdf]] (dim = xs.length)
    */
  private val nearestSubUdf = udf { (xs: Seq[Long], keys: Seq[Long], cmatq: Seq[Long]) =>
    val dim = xs.length
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < keys.length) {
      var d = 0L; var i = 0
      while (i < dim) { val t = xs(i) - cmatq(c * dim + i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (keys(best), bestD)
  }

  /** per-subspace centroid relation → [[PqM]] broadcastable rows of
    * (keys, flattened key-sorted matrix) — [[centroidMatrixQ]] keyed by m
    */
  private def centroidMatrixByM(cents: DataFrame): DataFrame =
    cents.groupBy("m")
      .agg(array_sort(collect_list(struct(col("cell").as("k"), col("c")))).as("pairs"))
      .select(col("m"), expr("transform(pairs, p -> p.k)").as("keys"),
        flatten(expr("transform(pairs, p -> p.c)")).as("cmatq"))

  /** trained PQ state: (sub-vector relation, trained per-subspace codebooks,
    * assignment function). Codebook training is one Lloyd round per subspace
    * over the floor-1e6 integer sub-vectors (seeds = sub-vectors of the
    * first [[PqK]] corpus vectors), all exact 64-bit arithmetic — the same
    * discipline that lets [[kmeansState]] replay in DuckDB, run [[PqM]]
    * times in parallel inside ONE plan (subspace is just a grouping column;
    * no per-subspace jobs).
    */
  private[graft] def pqState(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val sub = subVecsCache(dir)(d => subVecs(Tables.loadSpread(s, d, "embeddings")))
    val (c1, assign) = pqStateOf(sub)
    (sub, c1, assign)
  }

  private val subVecsCache = graft.Memo.base()

  /** (vec_id, m, xs): each vector's [[PqM]] quantized sub-vectors */
  private def subVecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(subVecsUdf(quantUdf(col("embedding")))).as(Seq("m", "xs")))

  /** (trained codebooks, assignment function) over the sub-vector relation
    * `sub`, which the caller caches: the [[PqM]]×[[PqK]] codebooks are O(1)
    * MODEL state, collected once and re-entered as a local relation
    */
  private def pqStateOf(sub: DataFrame): (DataFrame, DataFrame => DataFrame) = {
    val c0 = sub.where(col("vec_id") < PqK)
      .select(col("m"), (col("vec_id") + 1).as("cell"), col("xs").as("c"))
    def assign(cents: DataFrame): DataFrame =
      sub.join(broadcast(centroidMatrixByM(cents)), Seq("m"))
        .select(col("vec_id"), col("m"), col("xs"),
          nearestSubUdf(col("xs"), col("keys"), col("cmatq")).as("a"))
        .select(col("vec_id"), col("m"), col("xs"),
          col("a._1").as("cell"), col("a._2").as("d"))
    val c1 = Localize(_ => assign(c0).groupBy("m", "cell").agg(pqMean(col("xs")).as("c")))
    (c1, assign)
  }

  /** PQ codebook training audit: per (subspace, cell) member count, inertia
    * (Σ dist² to the trained centroid) and centroid checksum — the
    * train-side gate of the PQ pipeline, every value exact integer
    * arithmetic and hash-replayed by DuckDB (the [[kmeansTrain]] contract
    * extended to [[PqM]] independent codebooks in one plan).
    */
  def pqTrain(s: SparkSession, dir: String): DataFrame = {
    val (_, c1, assign) = pqState(s, dir)
    assign(c1).groupBy("m", "cell")
      .agg(count(lit(1)).as("n_members"), sum(col("d")).as("inertia"))
      .join(c1.select(col("m"), col("cell"),
        expr("aggregate(c, 0L, (acc, v) -> acc + v)").as("c_sum")), Seq("m", "cell"))
  }

  /** ANN over PQ codes via asymmetric distance computation (ADC): each query
    * builds a [[PqM]]×[[PqK]] distance table to the codebooks (broadcast —
    * KBs), and a candidate's distance is the Σ of [[PqM]] table lookups on
    * its CODES — the corpus's float vectors are never touched at serving
    * time, the entire point of PQ at 100 TB (codes are PqM small ints per
    * vector; the scan reads 256× fewer bytes than float re-ranking). The
    * lookup join is a broadcast hash join on (m, cell) followed by one
    * bounded-state per-query top-k ([[graft.operators.TopKAgg]]). Exact
    * integer arithmetic end to end → the DuckDB oracle replays training,
    * codes, distance tables and ranking bit-for-bit.
    */
  def annPqTopK(s: SparkSession, dir: String): DataFrame = {
    val (sub, c1, assign) = pqState(s, dir)
    val codes = assign(c1).select("vec_id", "m", "cell")
    val dt = sub.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("m"), col("xs"))
      .join(broadcast(c1), Seq("m"))
      .select(col("q_id"), col("m"), col("cell"),
        intL2DimUdf(col("xs"), col("c")).as("d"))
    val topk = udaf(new graft.operators.TopKAgg(PqTopK))
    codes.join(broadcast(dt), Seq("m", "cell"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("d")).as("dist"))
      .groupBy("q_id")
      .agg(topk(-col("dist"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), (-col("col.v")).as("dist"))
  }

  /** 8-dim integer squared-L2 rendered for DuckDB */
  private def sqlSubDist(a: String, b: String) =
    s"list_sum([ ($a[i] - $b[i]) * ($a[i] - $b[i]) for i in range(1, ${PqSub + 1}) ])"

  /** shared oracle CTE chain replaying PQ training and coding: quantized
    * sub-vectors `sub`, seed codebooks `pc0`, one Lloyd round → `pc1`,
    * final codes `codes (vec_id, m, cell, d)`
    */
  private def pqCtes: String =
    s"""xq AS (
      |  SELECT vec_id,
      |         [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |          for i in range(1, $Dim + 1)] AS x
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, m, x[m * $PqSub + 1 : m * $PqSub + $PqSub] AS xs
      |  FROM xq, range($PqM) mm(m)),
      |pc0 AS (SELECT m, vec_id + 1 AS cell, xs AS c FROM sub WHERE vec_id < $PqK),
      |pd1 AS (
      |  SELECT s.vec_id, s.m, k.cell, s.xs, ${sqlSubDist("s.xs", "k.c")} AS d
      |  FROM sub s JOIN pc0 k ON k.m = s.m),
      |pa1 AS (
      |  SELECT vec_id, m, xs, cell, d FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rn
      |    FROM pd1)
      |  WHERE rn = 1),
      |ps1 AS (
      |  SELECT m, cell, i,
      |         CAST(floor(CAST(sum(xs[i]) AS BIGINT) / count(*)) AS BIGINT) AS ci
      |  FROM pa1, unnest(range(1, $PqSub + 1)) AS t(i)
      |  GROUP BY m, cell, i),
      |pc1 AS (SELECT m, cell, list(ci ORDER BY i) AS c FROM ps1 GROUP BY m, cell),
      |pd2 AS (
      |  SELECT s.vec_id, s.m, k.cell, ${sqlSubDist("s.xs", "k.c")} AS d
      |  FROM sub s JOIN pc1 k ON k.m = s.m),
      |codes AS (
      |  SELECT vec_id, m, cell, d FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rn
      |    FROM pd2)
      |  WHERE rn = 1)""".stripMargin

  private val pqTrainSql =
    s"""WITH $pqCtes,
      |cs AS (SELECT m, cell, CAST(list_sum(c) AS BIGINT) AS c_sum FROM pc1)
      |SELECT m, cell, count(*) AS n_members, CAST(sum(d) AS BIGINT) AS inertia, c_sum
      |FROM codes JOIN cs USING (m, cell)
      |GROUP BY m, cell, c_sum""".stripMargin

  private val annPqTopKSql =
    s"""WITH $pqCtes,
      |q AS (SELECT vec_id AS q_id, m, xs FROM sub WHERE vec_id < 5),
      |dt AS (
      |  SELECT q_id, k.m, k.cell, ${sqlSubDist("q.xs", "k.c")} AS d
      |  FROM q JOIN pc1 k ON k.m = q.m),
      |pair AS (
      |  SELECT dt.q_id, codes.vec_id, CAST(sum(dt.d) AS BIGINT) AS dist
      |  FROM codes JOIN dt ON dt.m = codes.m AND dt.cell = codes.cell
      |  WHERE codes.vec_id <> dt.q_id
      |  GROUP BY dt.q_id, codes.vec_id),
      |r AS (
      |  SELECT q_id, vec_id, dist,
      |         row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rank
      |  FROM pair)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, dist FROM r
      |WHERE rank <= $PqTopK""".stripMargin

  /** Scalar int8 quantization of the embedding corpus — the compression step
    * a 100 TB vector store runs before ANN serving (4× smaller than float32,
    * SIMD-friendly integer dot products). Per-dimension affine quantization:
    * `q = floor((v − min_d) · 255 / (max_d − min_d))`. The per-dim stats are
    * one narrow groupBy over the exploded components; the quantization pass
    * broadcast-joins the 64-row stats table back — embeddings shuffle once
    * (the posexplode spread), never pairwise. Output is exact integer
    * accounting (level sums, saturation counts, 1e-6-floored ranges), so the
    * whole op is hash-gated cross-engine despite the float inputs: every
    * arithmetic step is the same IEEE double expression tree in both engines.
    */
  def embQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val comp = Tables.loadSpread(s, dir, "embeddings")
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("long").as("dim"), col("col").cast("double").as("v"))
    val stats = comp.groupBy("dim").agg(min("v").as("vmin"), max("v").as("vmax"))
    comp.join(broadcast(stats), "dim")
      .withColumn("q",
        when(col("vmax") === col("vmin"), 0L)
          .otherwise(floor((col("v") - col("vmin")) * 255.0 / (col("vmax") - col("vmin")))
            .cast("long")))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum("q").as("sum_q"),
        sum(when(col("q") >= 255L, 1L).otherwise(0L)).as("n_sat"),
        floor(min("v") * 1000000.0).cast("long").as("min_e6"),
        floor(max("v") * 1000000.0).cast("long").as("max_e6"))
  }

  private val embQuantizeInt8Sql =
    """WITH c AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |         CAST(embedding[generate_subscripts(embedding, 1)] AS DOUBLE) AS v
      |  FROM embeddings),
      |s AS (SELECT dim, min(v) AS vmin, max(v) AS vmax FROM c GROUP BY dim),
      |q AS (
      |  SELECT c.dim, v,
      |         CASE WHEN vmax = vmin THEN 0
      |              ELSE CAST(floor((v - vmin) * 255 / (vmax - vmin)) AS BIGINT)
      |         END AS q
      |  FROM c JOIN s ON c.dim = s.dim)
      |SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q,
      |       CAST(sum(CASE WHEN q >= 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
      |       CAST(floor(min(v) * 1000000) AS BIGINT) AS min_e6,
      |       CAST(floor(max(v) * 1000000) AS BIGINT) AS max_e6
      |FROM q GROUP BY dim""".stripMargin

  // ---------------------------------------------------------------------------
  // Random-projection dimensionality reduction (JL / sparse Achlioptas)
  // ---------------------------------------------------------------------------

  /** projected dimensionality */
  val RpK = 16
  /** number of adjacent-id probe pairs whose distances are audited */
  val RpPairs = 16

  /** Sparse Achlioptas projection matrix [k][d] ∈ {−1, 0, +1} (P(±1) = 1/6
    * each, P(0) = 2/3 — Achlioptas 2003's database-friendly JL variant),
    * derived from the portable md5 recipe so DuckDB regenerates it exactly.
    * Integer entries are the point: against [[quantAt]]-integerized vectors
    * the entire projection and every distance below is 64-bit-exact.
    */
  private lazy val rpMatrix: Array[Array[Long]] =
    Array.tabulate(RpK, Dim) { (k, d) =>
      Portable.md5Int(s"rp:$k:$d") % 6 match {
        case 0 => 1L
        case 1 => -1L
        case _ => 0L
      }
    }

  private val rpProjectUdf = udf { x: Seq[Long] =>
    val out = new Array[Long](RpK)
    var k = 0
    while (k < RpK) {
      val row = rpMatrix(k)
      var s = 0L; var i = 0
      while (i < Dim) { s += x(i) * row(i); i += 1 }
      out(k) = s
      k += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  private val intL2DimUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
    var d = 0L; var i = 0
    val n = a.length
    while (i < n) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Johnson–Lindenstrauss dimensionality reduction audit: project the
    * 1e3-quantized corpus from 64 to [[RpK]] dims through the sparse
    * integer matrix and report, for [[RpPairs]] fixed adjacent-id pairs,
    * the original and projected squared L2 plus their ppm ratio — the
    * distance-preservation measurement a pipeline runs before swapping the
    * full embeddings for compressed ones (4× fewer dims ⇒ 4× cheaper ANN
    * candidate scoring and index storage). Every step is integer (quantize →
    * ±1 combine → squared diffs → floor-div ppm), so the DuckDB oracle
    * replays ratios bit-for-bit; LlmSpec pins the JL concentration law
    * (ratios clustered around the k/3 expectation).
    *
    * 100 TB posture: projection is ONE map pass with the 16×64 matrix in
    * the closure (no shuffle; at a real deployment this pass writes the
    * compressed column next to the original); the audited pairs join by id.
    */
  def rpProject(s: SparkSession, dir: String): DataFrame = {
    val xq = Tables.loadSpread(s, dir, "embeddings")
      .select(col("vec_id"), quantAt(1e3)(col("embedding")).as("x"))
      .withColumn("y", rpProjectUdf(col("x")))
    val a = xq.where(col("vec_id") % 2 === 0 && col("vec_id") < RpPairs * 2L)
      .select(col("vec_id").as("id_a"), col("x").as("xa"), col("y").as("ya"))
    val b = xq.select((col("vec_id") - 1).as("id_a"), col("vec_id").as("id_b"),
      col("x").as("xb"), col("y").as("yb"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"),
        intL2DimUdf(col("xa"), col("xb")).as("d2_orig"),
        intL2DimUdf(col("ya"), col("yb")).as("d2_proj"))
      .where(col("d2_orig") > 0L)
      .withColumn("ratio_ppm", expr("d2_proj * 1000000 div d2_orig"))
  }

  private val rpProjectSql =
    s"""WITH xq AS (
      |  SELECT vec_id,
      |         [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
      |          for i in range(1, $Dim + 1)] AS x
      |  FROM embeddings),
      |m AS (
      |  SELECT k,
      |         [CASE ${Portable.md5IntSql("'rp:' || CAST(k AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % 6
      |            WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
      |          for i in range(1, $Dim + 1)] AS row
      |  FROM range($RpK) kk(k)),
      |proj AS (
      |  SELECT vec_id, k,
      |         CAST(list_sum([x[i] * row[i] for i in range(1, $Dim + 1)]) AS BIGINT) AS p
      |  FROM xq, m),
      |pv AS (SELECT vec_id, list(p ORDER BY k) AS y FROM proj GROUP BY vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.x AS xa, b.x AS xb,
      |         pa.y AS ya, pb.y AS yb
      |  FROM xq a
      |  JOIN xq b ON b.vec_id = a.vec_id + 1
      |  JOIN pv pa ON pa.vec_id = a.vec_id
      |  JOIN pv pb ON pb.vec_id = b.vec_id
      |  WHERE a.vec_id % 2 = 0 AND a.vec_id < ${RpPairs * 2}),
      |d AS (
      |  SELECT id_a, id_b,
      |         CAST(list_sum([(xa[i] - xb[i]) * (xa[i] - xb[i]) for i in range(1, $Dim + 1)]) AS BIGINT) AS d2_orig,
      |         CAST(list_sum([(ya[k] - yb[k]) * (ya[k] - yb[k]) for k in range(1, $RpK + 1)]) AS BIGINT) AS d2_proj
      |  FROM pairs)
      |SELECT id_a, id_b, d2_orig, d2_proj,
      |       d2_proj * 1000000 // d2_orig AS ratio_ppm
      |FROM d WHERE d2_orig > 0""".stripMargin

  // ---------------------------------------------------------------------------
  // SemDeDup — semantic dedup by cluster-then-prune (oracle-gated)
  // ---------------------------------------------------------------------------

  /** [[semDedup]] prune threshold: within-cluster pairs with integer cosine
    * ≥ this (·1e-6) are semantic duplicates. 0.40 sits deep in the tail of
    * the corpus's pairwise-cosine distribution (measured at sf0.01/sf0.1:
    * ~5e-4 of pairs), so a small, meaningful fraction prunes at every SF —
    * a lower cut at p99 pruned most of the corpus, since expected dominators
    * per doc scale with cell size × tail mass.
    */
  val SemTauE6 = 400000L

  /** `floor(cos·1e6)` between two scale-quantized integer vectors. Dot and
    * norms are exact 64-bit sums (|x_i| ≤ 1e6 ⇒ Σ ≤ 6.4e13 < 2^53, so the
    * int→double conversions are exact); the remaining steps — two sqrt, one
    * multiply, one divide, one multiply, floor — are each single correctly-
    * rounded IEEE ops evaluated in the SAME order as the oracle's
    * `dot / (sqrt(na) * sqrt(nb)) * 1000000`, so the value is bit-equal
    * cross-engine (the [[cosE6]] discipline lifted to quantized space).
    */
  private val intCosE6Udf = udf { (a: Seq[Long], b: Seq[Long]) =>
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < Dim) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    math.floor(dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)) * 1e6).toLong
  }

  private val cellCosCache = graft.Memo.base()

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering then within-cluster pruning — k-means the corpus, and inside
    * each cluster drop any member that has a LOWER-centroid-similarity
    * neighbor at pair-cosine ≥ [[SemTauE6]] (the paper's "keep the example
    * farthest from the centroid" rule; ties break on vec_id, so the pruned
    * set is deterministic). The kept set always contains each cell's
    * (cent_e6, vec_id)-minimal member, and chains terminate there.
    *
    * Spark-first shape: reuses the hash-gated [[kmeansState]] trajectory
    * (corpus + trained centroids cache()-shared with `kmeans_train` /
    * `ann_ivf_trained_topk`), computes centroid similarity as a narrow
    * broadcast projection, and the candidate pair join is keyed by `cell` —
    * the only pairwise work is cluster-local, which is the entire point of
    * the algorithm at 100 TB: k grows with the corpus so per-cell membership
    * stays bounded, and a production table would be bucketed by cell making
    * the self-join co-partitioned with no extra exchange. Everything is
    * integer/floor arithmetic, so the DuckDB oracle replays the full
    * cluster→prune pipeline bit-for-bit.
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    // memoized per dir: both sides of the self-join and the final join read
    // it, and the per-vector result is lazy, so no query scope can own it
    val wc = cellCosCache(dir) { d =>
      val (_, trained, assign) = kmeansState(s, d, KmIters)
      assign(trained)
        .join(broadcast(trained), "cell")
        .select(col("vec_id"), col("cell"), col("x"),
          intCosE6Udf(col("x"), col("c")).as("cent_e6"))
    }
    val dom = wc.as("a")
      .join(wc.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          (col("a.cent_e6") < col("b.cent_e6") ||
            (col("a.cent_e6") === col("b.cent_e6") && col("a.vec_id") < col("b.vec_id"))) &&
          intCosE6Udf(col("a.x"), col("b.x")) >= SemTauE6)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_dom"))
    wc.join(dom, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("cent_e6"),
        coalesce(col("n_dom"), lit(0L)).as("n_dom"),
        when(col("n_dom").isNull, 1).otherwise(0).as("kept"))
  }

  /** exact integer dot of two quantized lists, as a DOUBLE (< 2^53 ⇒ the
    * cast is exact)
    */
  private def sqlIntDot(a: String, b: String) =
    s"CAST(list_sum([ $a[i] * $b[i] for i in range(1, ${Dim + 1}) ]) AS DOUBLE)"

  private def sqlIntCosE6(a: String, b: String) =
    s"""CAST(floor(${sqlIntDot(a, b)}
       | / (sqrt(${sqlIntDot(a, a)}) * sqrt(${sqlIntDot(b, b)})) * 1000000) AS BIGINT)""".stripMargin

  private val semDedupSql =
    s"""WITH $kmeansCtes,
      |wc AS (
      |  SELECT vec_id, cell, x, ${sqlIntCosE6("x", "c")} AS cent_e6
      |  FROM af JOIN c$KmIters USING (cell)),
      |dom AS (
      |  SELECT b.vec_id AS vec_id, count(*) AS n_dom
      |  FROM wc a JOIN wc b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |   AND (a.cent_e6 < b.cent_e6 OR (a.cent_e6 = b.cent_e6 AND a.vec_id < b.vec_id))
      |   AND ${sqlIntCosE6("a.x", "b.x")} >= $SemTauE6
      |  GROUP BY 1)
      |SELECT wc.vec_id, cell, cent_e6,
      |       coalesce(n_dom, CAST(0 AS BIGINT)) AS n_dom,
      |       CASE WHEN n_dom IS NULL THEN 1 ELSE 0 END AS kept
      |FROM wc LEFT JOIN dom ON wc.vec_id = dom.vec_id""".stripMargin

  // ---------------------------------------------------------------------------
  // ANN quality evaluation + kNN-distance outlier audit
  // ---------------------------------------------------------------------------

  /** Retrieval-quality evaluation of the LSH ANN against the exact
    * brute-force ground truth, per query: recall@[[TopK]] (how many of the
    * exact top-k the LSH list recovered) and the reciprocal rank of the TRUE
    * nearest neighbour inside the LSH list (0 when the bucket family missed
    * it entirely) — the recall/MRR pair every ANN deployment monitors.
    * Both inputs are deterministic (md5-derived planes, integerized scores,
    * id tie-breaks), so unlike typical ANN evals this one hash-gates: the
    * oracle replays BOTH retrieval paths and the join of their ranks.
    *
    * 100 TB shape: composes the two retrieval plans (each one corpus scan,
    * candidates bucket-bounded); the eval join itself is queries×k rows.
    */
  def annRecallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = bruteForceTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("erank"))
    val lsh = lshTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("lrank"))
    exact.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("lrank").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        max(when(col("erank") === 1, coalesce(col("lrank"), lit(0L)))).as("nn_rank"))
      .select(
        col("query_id"), col("n_hits"),
        expr(s"n_hits * 1000000 div $TopK").as("recall_ppm"),
        col("nn_rank"),
        when(col("nn_rank") > 0, expr("1000000 div nn_rank")).otherwise(0L).as("rr_ppm"))
      .orderBy(col("query_id"))
  }

  private val annRecallEvalSql =
    s"""WITH exact_tk AS (SELECT * FROM ($bruteForceSql)),
       |lsh_tk AS (SELECT * FROM ($lshTopKSql)),
       |j AS (
       |  SELECT e.query_id, e.rank AS erank, l.rank AS lrank
       |  FROM exact_tk e LEFT JOIN lsh_tk l
       |    ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id),
       |agg AS (
       |  SELECT query_id,
       |         CAST(sum(CASE WHEN lrank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |         CAST(max(CASE WHEN erank = 1 THEN coalesce(lrank, 0) END) AS BIGINT) AS nn_rank
       |  FROM j GROUP BY 1)
       |SELECT query_id, n_hits, n_hits * 1000000 // $TopK AS recall_ppm, nn_rank,
       |       CASE WHEN nn_rank > 0 THEN 1000000 // nn_rank ELSE CAST(0 AS BIGINT) END AS rr_ppm
       |FROM agg ORDER BY query_id""".stripMargin

  /** k-th-NN rank for the outlier score */
  val KnnK = 10
  /** outliers emitted */
  val OutlierK = 20
  /** deterministic audit sample: score every [[SampleMod]]-th vec_id */
  val SampleMod = 5

  /** kNN-distance outlier detection (Ramaswamy et al.): a point's outlier
    * score is its cosine to its [[KnnK]]-th nearest neighbour — isolated
    * points have a LOW k-th-NN cosine. Scored over a deterministic audit
    * sample (every [[SampleMod]]-th vec_id) against the FULL corpus; emits
    * the [[OutlierK]] most isolated points. Scores are `floor(cos·1e6)`
    * integers with id tie-breaks — fully hash-gated.
    *
    * 100 TB shape: the sample is broadcast (bounded by construction), the
    * corpus is scanned ONCE with compiled codegen cosines — no corpus
    * shuffle; only (sample_id, cos) scalars reach the rank window. For a
    * full-corpus audit swap the broadcast sample for the IVF cell index
    * (candidates from probed cells only), same downstream plan.
    */
  def embKnnOutliers(s: SparkSession, dir: String): DataFrame = {
    val sample = Tables.load(s, dir, "embeddings")
      .where(col("vec_id") % SampleMod === 0)
      .select(col("vec_id").as("sid"), col("label").as("slabel"),
        col("embedding").as("svec"))
    val scored = Tables.loadSpread(s, dir, "embeddings").crossJoin(broadcast(sample))
      .where(col("vec_id") =!= col("sid"))
      .select(col("sid"), col("slabel"), col("vec_id").as("nid"),
        cosE6(col("svec"), col("embedding")))
    val wk = Window.partitionBy("sid").orderBy(col("cos_e6").desc, col("nid"))
    scored.withColumn("nn_rank", row_number().over(wk))
      .where(col("nn_rank") === KnnK)
      .select(col("sid").as("vec_id"), col("slabel").as("label"),
        col("cos_e6").as("knn_cos_e6"))
      .orderBy(col("knn_cos_e6"), col("vec_id"))
      .limit(OutlierK)
  }

  private val embKnnOutliersSql =
    s"""WITH sample AS (
       |  SELECT vec_id AS sid, label AS slabel, embedding AS svec
       |  FROM embeddings WHERE vec_id % $SampleMod = 0),
       |scored AS (
       |  SELECT sid, slabel, e.vec_id AS nid,
       |         CAST(floor((${cosSqlOf("s.svec", "e.embedding")}) * 1000000) AS BIGINT) AS cos_e6
       |  FROM sample s CROSS JOIN embeddings e WHERE e.vec_id <> s.sid),
       |ranked AS (
       |  SELECT sid, slabel, cos_e6,
       |         row_number() OVER (PARTITION BY sid ORDER BY cos_e6 DESC, nid) AS nn_rank
       |  FROM scored)
       |SELECT sid AS vec_id, slabel AS label, cos_e6 AS knn_cos_e6
       |FROM ranked WHERE nn_rank = $KnnK
       |ORDER BY knn_cos_e6, vec_id LIMIT $OutlierK""".stripMargin

  /** power-iteration rounds for [[embPcaPower]] (fixed; the oracle replays
    * each round, so the result is THE same function in both engines)
    */
  val PcaIters = 5

  /** fixed-point scale of the iterated vector (components ∈ [−1e6, 1e6]) */
  val PcaScale = 1000000L

  /** Distributed PCA by power iteration: the dominant principal direction
    * of the embedding corpus' (uncentered) second-moment matrix, computed
    * without any linear-algebra library. Components quantize to exact
    * integers (`floor(v·1000)`, the [[rpProject]] recipe); the Dim×Dim Gram
    * matrix accumulates in ONE typed aggregate over a flattened
    * outer-product buffer (the classic distributed Gram shape: per-partition
    * accumulation, map-side combine, a Dim²-sized shuffle — the corpus is
    * scanned once and never self-joined); then [[PcaIters]] rounds of
    * v ← C·v on the Dim²-row relation, re-normalized each round by the max
    * absolute component through the portable fixed-sequence double form
    * (int64 → double is IEEE round-to-nearest in both engines, the division
    * and ×1e6 are single correctly-rounded ops, floor is exact — so every
    * round replays bit-identically in DuckDB and the whole eigenvector
    * hash-gates). Emits the Dim fixed-point components plus the final
    * pre-normalization scale (the Rayleigh-quotient-scale eigenvalue
    * readout).
    *
    * 100 TB shape: the only corpus-sized work is the single Gram scan;
    * every iteration touches Dim²=4096 rows. A wider corpus changes the
    * Gram sums' magnitude, never the plan.
    */
  def embPcaPower(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    object GramAgg
        extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], GramBuf, Seq[Long]] {
      def zero: GramBuf = GramBuf(Array.fill(Dim * Dim)(0L))
      def reduce(b: GramBuf, q: Seq[Long]): GramBuf = {
        var i = 0
        while (i < Dim) {
          val qi = q(i); var j = 0
          while (j < Dim) { b.s(i * Dim + j) += qi * q(j); j += 1 }
          i += 1
        }
        b
      }
      def merge(x: GramBuf, y: GramBuf): GramBuf = {
        var k = 0
        while (k < Dim * Dim) { x.s(k) += y.s(k); k += 1 }
        x
      }
      def finish(b: GramBuf): Seq[Long] =
        scala.collection.immutable.ArraySeq.unsafeWrapArray(b.s)
      def bufferEncoder: org.apache.spark.sql.Encoder[GramBuf] =
        org.apache.spark.sql.Encoders.product[GramBuf]
      def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }
    val gram = udaf(GramAgg)
    val cm = keep(Tables.loadSpread(s, dir, "embeddings")
      .select(quantAt(1e3)(col("embedding")).as("x"))
      .agg(gram(col("x")).as("g"))
      .select(posexplode(col("g")))
      .select(expr("CAST(pos div 64 AS BIGINT)").as("i"),
        expr("CAST(pos % 64 AS BIGINT)").as("j"), col("col").as("cij")))
    // The round state is Dim longs (O(1) MODEL state, the bpe-train /
    // perceptron discipline): collect it per round and re-enter the next
    // round as a LocalRelation. The previous formulation referenced `w`
    // TWICE per round (the max and the renormalized vector), doubling the
    // LOGICAL plan every iteration — 2^PcaIters analysis blowup at the
    // final collect (the Rebase lesson, solved here by localization since
    // the state is fixed-size regardless of corpus scale). Arithmetic is
    // the identical IEEE sequence: long→double, one correctly-rounded
    // divide, one multiply, floor — so the trajectory is bit-equal and the
    // oracle gate is unchanged.
    import s.implicits._
    var v: Seq[(Long, Long)] = (0L until Dim.toLong).map(j => (j, PcaScale))
    var lastScale = 0L
    for (_ <- 1 to PcaIters) {
      val w = cm.join(broadcast(v.toDF("j", "v")), "j")
        .groupBy(col("i")).agg(sum(col("cij") * col("v")).as("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val m = w.iterator.map(x => math.abs(x._2)).max
      v = w.toSeq.sortBy(_._1)
        .map { case (i, wi) => (i, math.floor(wi.toDouble / m * PcaScale).toLong) }
      lastScale = m
    }
    v.map { case (j, vf) => (j, vf, lastScale) }
      .toDF("dim", "v_fp", "last_scale")
  }

  private val embPcaPowerSql = {
    val rounds = (1 to PcaIters).map { t =>
      s"""w$t AS (
         |  SELECT cm.i, CAST(sum(cm.cij * p.v) AS BIGINT) AS w
         |  FROM cm JOIN v${t - 1} p ON p.j = cm.j GROUP BY 1),
         |m$t AS (SELECT CAST(max(abs(w)) AS BIGINT) AS m FROM w$t),
         |v$t AS (
         |  SELECT i AS j,
         |         CAST(floor(CAST(w AS DOUBLE) / m * $PcaScale) AS BIGINT) AS v
         |  FROM w$t CROSS JOIN m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (
       |  SELECT vec_id,
       |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |         CAST(floor(CAST(embedding[generate_subscripts(embedding, 1)] AS DOUBLE) * 1000) AS BIGINT) AS q
       |  FROM embeddings),
       |cm AS (
       |  SELECT a.i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS cij
       |  FROM c a JOIN c b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2),
       |v0 AS (SELECT CAST(j AS BIGINT) AS j, CAST($PcaScale AS BIGINT) AS v
       |       FROM range($Dim) t(j)),
       |$rounds
       |SELECT f.j AS dim, f.v AS v_fp, m.m AS last_scale
       |FROM v$PcaIters f CROSS JOIN m$PcaIters m
       |ORDER BY dim""".stripMargin
  }

  /** Embedding-space health diagnostics: per-dimension variance of the
    * integer-quantized components (exact `(n·Σq² − (Σq)²) div n²` — the
    * population variance in fixed-point q² units) plus the PARTICIPATION
    * RATIO `(Σv)²/Σv²` — the standard effective-dimensionality proxy (64
    * when variance spreads evenly, →1 when one dimension dominates, the
    * "dimensional collapse" smell a contrastive-training run monitors).
    * The ratio is one fixed multiply+divide of exact-in-double int64 sums,
    * floored to milli — hash-gated like everything else.
    *
    * 100 TB shape: one posexplode scan into a Dim-sized aggregate; the
    * summary is a broadcast 1-row reduce of the 64-row relation.
    */
  def embDimDiagnostics(s: SparkSession, dir: String): DataFrame = {
    val comp = Tables.loadSpread(s, dir, "embeddings")
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 1000).cast("long").as("q"))
    val per = comp.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sq2"))
      .select(col("dim"), col("n"),
        expr("(n * sq2 - sq * sq) div (n * n)").as("var_fp"))
    val summary = per.agg(
        sum(col("var_fp")).as("sv"),
        sum(col("var_fp") * col("var_fp")).as("sv2"))
      .select(col("sv"),
        expr("CAST(floor(CAST(sv AS DOUBLE) * sv / sv2 * 1000) AS BIGINT)")
          .as("participation_milli"))
    per.crossJoin(broadcast(summary))
      .select(col("dim"), col("n"), col("var_fp"), col("sv").as("total_var_fp"),
        col("participation_milli"))
      .orderBy(col("dim"))
  }

  private val embDimDiagnosticsSql =
    s"""WITH c AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |         CAST(floor(CAST(embedding[generate_subscripts(embedding, 1)] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM embeddings),
      |per AS (
      |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |         (CAST(count(*) AS BIGINT) * CAST(sum(q * q) AS BIGINT)
      |          - CAST(sum(q) AS BIGINT) * CAST(sum(q) AS BIGINT))
      |         // (CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT)) AS var_fp
      |  FROM c GROUP BY dim),
      |s AS (
      |  SELECT CAST(sum(var_fp) AS BIGINT) AS sv,
      |         CAST(sum(var_fp * var_fp) AS BIGINT) AS sv2
      |  FROM per)
      |SELECT dim, n, var_fp, sv AS total_var_fp,
      |       CAST(floor(CAST(sv AS DOUBLE) * sv / sv2 * 1000) AS BIGINT) AS participation_milli
      |FROM per CROSS JOIN s
      |ORDER BY dim""".stripMargin

  /** per-dim shifted-centroid cut: contribution > this ⇔ |Δmean| > 1e-3 */
  private val DriftDimCutE12 = 1000000L

  /** Embedding-space distribution-shift monitor — the vector companion of
    * the categorical chi-square drift gate: split the corpus into two
    * deterministic halves (vec_id parity — stands in for old/new ingest
    * windows), compute each half's centroid via the documented replay
    * recipe (per-dim exact `floor(v·1e6)` fixed-point sums, then TWO
    * correctly-rounded divisions — bit-equal cross-engine), and emit the
    * squared centroid distance with per-dim attribution: each dim's
    * `floor(Δ²·1e12)` is integerized BEFORE the 64-term sum (no float
    * summation order), the worst dim is argmax'd on that integer, and dims
    * with |Δmean| > 1e-3 are counted. The embedding-drift gate a retrieval
    * index re-build decision reads.
    *
    * 100 TB shape: ONE corpus scan to Dim×2 fixed-point sums (map-side
    * combined); everything after runs on the 64-row dim relation.
    */
  def embCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val comp = Tables.loadSpread(s, dir, "embeddings")
      .select((col("vec_id") % 2).as("half"), posexplode(col("embedding")))
      .select(col("half"), col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 1000000).cast("long").as("q"))
    val per = comp.groupBy(col("dim"), col("half"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
    val a = per.where(col("half") === 0)
      .select(col("dim"), col("n").as("n_a"), col("sq").as("sq_a"))
    val b = per.where(col("half") === 1)
      .select(col("dim"), col("n").as("n_b"), col("sq").as("sq_b"))
    val dims = a.join(b, "dim")
      .withColumn("delta",
        expr("CAST(sq_a AS DOUBLE) / 1000000 / n_a - CAST(sq_b AS DOUBLE) / 1000000 / n_b"))
      .withColumn("contrib_e12",
        expr("CAST(floor(delta * delta * 1000000000000) AS BIGINT)"))
    dims.agg(
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("contrib_e12")).as("dist2_e12"),
        min_by(col("dim"), struct(-col("contrib_e12"), col("dim"))).as("worst_dim"),
        max(col("contrib_e12")).as("worst_dim_e12"),
        sum(when(col("contrib_e12") > DriftDimCutE12, 1L).otherwise(0L))
          .as("n_dims_shifted"))
  }

  private val embCentroidDriftSql =
    s"""WITH c AS (
      |  SELECT vec_id % 2 AS half,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |         CAST(floor(CAST(embedding[generate_subscripts(embedding, 1)] AS DOUBLE) * 1000000) AS BIGINT) AS q
      |  FROM embeddings),
      |per AS (
      |  SELECT dim, half, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sq
      |  FROM c GROUP BY 1, 2),
      |d AS (
      |  SELECT a.dim,
      |         a.n AS n_a, b.n AS n_b,
      |         CAST(a.sq AS DOUBLE) / 1000000 / a.n - CAST(b.sq AS DOUBLE) / 1000000 / b.n AS delta
      |  FROM (SELECT * FROM per WHERE half = 0) a
      |  JOIN (SELECT * FROM per WHERE half = 1) b USING (dim)),
      |e AS (
      |  SELECT dim, n_a, n_b,
      |         CAST(floor(delta * delta * 1000000000000) AS BIGINT) AS contrib_e12
      |  FROM d)
      |SELECT CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
      |       CAST(sum(contrib_e12) AS BIGINT) AS dist2_e12,
      |       CAST(max(CASE WHEN rn = 1 THEN dim END) AS BIGINT) AS worst_dim,
      |       CAST(max(contrib_e12) AS BIGINT) AS worst_dim_e12,
      |       CAST(sum(CASE WHEN contrib_e12 > $DriftDimCutE12 THEN 1 ELSE 0 END) AS BIGINT) AS n_dims_shifted
      |FROM (SELECT *, row_number() OVER (ORDER BY contrib_e12 DESC, dim) AS rn FROM e)""".stripMargin

  // ---------------------------------------------------------------------------
  // Binary (sign-bit) quantization + Hamming-distance ANN
  // ---------------------------------------------------------------------------

  /** Sign-bit binary quantization + Hamming ANN — the cheapest member of the
    * ANN family (brute float → int8 → PQ → binary): each 64-dim float vector
    * collapses to a 64-bit sign sketch stored as TWO 32-bit halves in BIGINTs
    * (bit i set iff embedding[i] > 0; two halves because a single `1<<63`
    * literal overflows signed 64-bit differently per engine), and distance is
    * `bit_count(h0 XOR q0) + bit_count(h1 XOR q1)` — pure integer ops, so the
    * whole pipeline (quantize, score, rank) hash-gates against DuckDB.
    * Ranking ties break by neighbor_id on the integer distance.
    *
    * 100 TB shape: the sketch relation is 24 bytes/row (500× smaller than the
    * float vectors — a 100 TB float corpus binarizes to ~200 GB, cacheable
    * cluster-wide); the probe sketches broadcast, the corpus NEVER shuffles,
    * and xor+bit_count stay inside whole-stage codegen. This is the standard
    * first-pass filter in a binary-rerank ANN stack (Hamming shortlist →
    * exact float rerank, cf. [[annInt8TopK]] for the rerank stage).
    */
  def annHammingTopK(s: SparkSession, dir: String): DataFrame = {
    val half = (off: Int) => expr(
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + IF(element_at(embedding, i + ${off + 1}) > CAST(0 AS FLOAT),
         |                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin)
    val sk = Tables.loadSpread(s, dir, "embeddings")
      .select(col("vec_id"), half(0).as("h0"), half(32).as("h1"))
    val q = Tables.load(s, dir, "embeddings")
      .orderBy("vec_id").limit(NumQueries)
      .select(col("vec_id").as("query_id"), half(0).as("q0"), half(32).as("q1"))
    val scored = sk.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("CAST(bit_count(h0 ^ q0) + bit_count(h1 ^ q1) AS BIGINT)").as("ham"))
    val w = Window.partitionBy("query_id").orderBy(col("ham"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
  }

  private val annHammingTopKSql = {
    def half(off: Int) =
      s"""CAST(list_sum(list_transform(range(32),
         |  i -> CASE WHEN embedding[i + ${off + 1}] > 0 THEN (CAST(1 AS BIGINT) << i)
         |            ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
    s"""WITH sk AS (
      |  SELECT vec_id, ${half(0)} AS h0, ${half(32)} AS h1 FROM embeddings),
      |q AS (
      |  SELECT vec_id AS query_id, h0 AS q0, h1 AS q1 FROM sk
      |  ORDER BY vec_id LIMIT $NumQueries),
      |scored AS (
      |  SELECT query_id, sk.vec_id AS neighbor_id,
      |         CAST(bit_count(xor(h0, q0)) + bit_count(xor(h1, q1)) AS BIGINT) AS ham
      |  FROM sk CROSS JOIN q WHERE sk.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, ham,
      |         row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, ham, rank FROM ranked WHERE rank <= $TopK""".stripMargin
  }

  /** truncated prefix width for the matryoshka retrieval eval */
  val TruncDim = 16

  /** Matryoshka dimension-truncation retrieval eval: how much top-k quality
    * survives serving only the FIRST [[TruncDim]] of [[Dim]] embedding
    * dimensions (the matryoshka/MRL deployment question — a 4× smaller
    * index and 4× faster scoring, if recall holds). ONE scored relation
    * carries both the full-dim and truncated-dim integerized cosines; two
    * row_number windows (same partition, different order) rank both
    * retrievals on the same rows, so recall@k is a plain conditional count
    * — no retrieval-vs-retrieval join at all. Emits per probe the overlap,
    * recall ppm, and both top-1 ids.
    *
    * 100 TB shape: identical to [[bruteForceTopK]] — probes broadcast, the
    * corpus never shuffles, both scores ride one scan; the windows are
    * probe-count-partitioned.
    */
  def annDimTruncEval(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.orderBy("vec_id").limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = Tables.loadSpread(s, dir, "embeddings").crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosE6(col("qvec"), col("embedding")).as("sf"),
        floor(graft.functions.cosine_similarity(
          expr(s"slice(qvec, 1, $TruncDim)"),
          expr(s"slice(embedding, 1, $TruncDim)")) * lit(1e6)).as("st"))
    val ranked = scored
      .withColumn("rf", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sf").desc, col("neighbor_id"))))
      .withColumn("rt", row_number().over(
        Window.partitionBy("query_id").orderBy(col("st").desc, col("neighbor_id"))))
    ranked.groupBy(col("query_id"))
      .agg(
        sum(when(col("rf") <= TopK && col("rt") <= TopK, 1L).otherwise(0L)).as("n_hits"),
        max(when(col("rf") === 1, col("neighbor_id"))).as("top1_full"),
        max(when(col("rt") === 1, col("neighbor_id"))).as("top1_trunc"))
      .withColumn("recall_ppm", expr(s"n_hits * 1000000 div $TopK"))
  }

  private val annDimTruncEvalSql = {
    def dot(a: String, b: String, d: Int) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  [CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, $d + 1)]),
         |  (acc, v) -> acc + v)""".stripMargin
    def cos(a: String, b: String, d: Int) =
      s"""CAST(floor(${dot(a, b, d)}
         |  / (sqrt(${dot(a, a, d)}) * sqrt(${dot(b, b, d)})) * 1000000) AS BIGINT)""".stripMargin
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  ORDER BY vec_id LIMIT $NumQueries),
      |scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |         ${cos("qvec", "e.embedding", Dim)} AS sf,
      |         ${cos("qvec", "e.embedding", TruncDim)} AS st
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sf, st,
      |         row_number() OVER (PARTITION BY query_id ORDER BY sf DESC, neighbor_id) AS rf,
      |         row_number() OVER (PARTITION BY query_id ORDER BY st DESC, neighbor_id) AS rt
      |  FROM scored)
      |SELECT query_id,
      |       CAST(sum(CASE WHEN rf <= $TopK AND rt <= $TopK THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |       CAST(max(CASE WHEN rf = 1 THEN neighbor_id END) AS BIGINT) AS top1_full,
      |       CAST(max(CASE WHEN rt = 1 THEN neighbor_id END) AS BIGINT) AS top1_trunc,
      |       CAST(sum(CASE WHEN rf <= $TopK AND rt <= $TopK THEN 1 ELSE 0 END) * 1000000 // $TopK AS BIGINT) AS recall_ppm
      |FROM ranked GROUP BY 1""".stripMargin
  }

  override val all: Seq[Q] = Seq(
    Q("ann_dim_trunc_eval", annDimTruncEval, Some(annDimTruncEvalSql)),
    Q("ann_hamming_topk", annHammingTopK, Some(annHammingTopKSql)),
    Q("emb_centroid_drift", embCentroidDrift, Some(embCentroidDriftSql)),
    Q("emb_dim_diagnostics", embDimDiagnostics, Some(embDimDiagnosticsSql)),
    Q("emb_pca_power", embPcaPower, Some(embPcaPowerSql)),
    Q("ann_recall_eval", annRecallEval, Some(annRecallEvalSql)),
    Q("emb_knn_outliers", embKnnOutliers, Some(embKnnOutliersSql)),
    Q("rp_project", rpProject, Some(rpProjectSql)),
    Q("dedup_semantic", semDedup, Some(semDedupSql)),
    Q("kmeans_train", kmeansTrain, Some(kmeansTrainSql)),
    Q("ann_int8_topk", annInt8TopK, Some(annInt8TopKSql)),
    Q("pq_train", pqTrain, Some(pqTrainSql)),
    Q("ann_pq_topk", annPqTopK, Some(annPqTopKSql)),
    Q("ann_ivf_trained_topk", annIvfTrainedTopK, Some(annIvfTrainedTopKSql)),
    Q("emb_quantize_int8", embQuantizeInt8, Some(embQuantizeInt8Sql)),
    Q("ann_topk", bruteForceTopK, Some(bruteForceSql)),
    Q("hybrid_rrf_search", hybridRrf, Some(hybridRrfSql)),
    Q("ann_lsh_topk", lshTopK, Some(lshTopKSql)),
    Q("ann_ivf_topk", ivfTopK, Some(ivfTopKSql)),
    Q("ann_ivfpq_topk", annIvfPqTopK, Some(annIvfPqTopKSql)),
    Q("dedup_embcos", embCosDedup, Some(embCosDedupSql)),
    Q("label_noise_audit", labelNoiseAudit, Some(labelNoiseAuditSql)),
    Q("emb_label_centroids", labelCentroids, Some(labelCentroidsSql)))
}
