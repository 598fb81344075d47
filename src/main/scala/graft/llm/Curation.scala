package graft.llm

import graft.{Localize, Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the composition layer of a training-data
  * pipeline: deterministic sampling and the canonical
  * filter → dedup → account chain.
  *
  * Scale notes (100 TB posture): sampling is a pushed-down narrow predicate
  * on a content-independent hash (no shuffle, no RNG state, stable across
  * retries/replays — a `rand()` sample would resample every task retry);
  * the clean-corpus chain is two shuffles (hash-group dedup, then the
  * low-cardinality accounting aggregate), both on keys a production table
  * would bucket by.
  */
object Curation extends QueryPack {

  /** Deterministic ~10% sample: first two hex chars of md5(doc_id) compared
    * lexicographically (fixed-width lowercase hex orders numerically), so
    * membership is a pure function of the id — identical in Spark, DuckDB,
    * and any replay. Per-source accounting proves the strata stay balanced.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs
      .where(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < "1a")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sampled_chars"))
  }

  private val sampleStratifiedSql =
    """SELECT source, count(*) AS n_sampled,
      |       CAST(sum(n_chars) AS BIGINT) AS sampled_chars
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
      |GROUP BY source""".stripMargin

  /** Length-WEIGHTED deterministic sampling: each document keeps with
    * probability ∝ its character count (capped at 1) — the token-budget
    * shaping pass that favors long documents without a global sort or RNG
    * state. Membership is the pure integer compare
    * `md5(doc_id) mod 1e6 < n_chars · 250`: uniform in [0, 1e6) against a
    * weight-scaled threshold, so retries, replays and the oracle agree
    * row-for-row (the weighted twin of [[sampleStratified]]'s flat cut).
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val u = Portable.md5Int(col("doc_id").cast("string").cast("binary")) % 1000000L
    docs.where(u < col("n_chars") * 250L)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"))
  }

  private val weightedSampleSql =
    s"""SELECT source, count(*) AS n_kept,
      |       CAST(sum(n_chars) AS BIGINT) AS kept_chars
      |FROM documents
      |WHERE ${Portable.md5IntSql("CAST(doc_id AS VARCHAR)")} % 1000000 < n_chars * 250
      |GROUP BY source""".stripMargin

  /** Token-length distribution profile per source — p10/p50/p90 of document
    * token counts, the curation diagnostic behind length filters and packing
    * budgets. Exact quantiles from ONE value histogram per source
    * ([[graft.operators.ExactQuantile.groupQuantilesDisc]]): token counts
    * have bounded cardinality, so task state is histogram-sized regardless
    * of corpus size.
    */
  def tokenLengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
      .select(col("source"), size(TextStats.tokensCol).cast("long").as("n_tokens"))
    graft.operators.ExactQuantile
      .groupQuantilesDisc(docs, Seq("source"), "n_tokens", Seq(0.1, 0.5, 0.9))
      .select(col("source"), col("n_tokens_q0").as("p10"),
        col("n_tokens_q1").as("p50"), col("n_tokens_q2").as("p90"), col("n"))
  }

  private val tokenLengthQuantilesSql =
    s"""WITH t AS (
      |  SELECT source,
      |         CAST(len(list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT source,
      |       quantile_disc(n_tokens, 0.1) AS p10,
      |       quantile_disc(n_tokens, 0.5) AS p50,
      |       quantile_disc(n_tokens, 0.9) AS p90,
      |       count(*) AS n
      |FROM t GROUP BY source""".stripMargin

  /** RAG corpus preparation composed end-to-end in ONE DAG: length filter →
    * exact dedup (lowest doc_id per normalized-content hash survives) →
    * embedding attach (docs without a vector drop — a strict retrieval
    * corpus) → int8 quantization checksum over the retained vectors. The
    * output is one stage-accounting row, so ANY stage silently widening or
    * narrowing the funnel (filter criteria drift, dedup keeping the wrong
    * representative, a lossy embedding join, quantization skew) flips the
    * oracle hash. Shapes are the individual operators' shapes — hash-keyed
    * dedup shuffle, broadcast-eligible survivor join, narrow quantization
    * projection — composition adds no new shuffle.
    */
  def ragCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val scored = docs
      .select(col("doc_id"), size(TextStats.tokensCol).as("n_tokens"),
        Dedup.contentHash.as("h"))
      .where(col("n_tokens") >= 10)
    val kept = scored
      .withColumn("rn", row_number().over(Window.partitionBy("h").orderBy("doc_id")))
      .where(col("rn") === 1)
      .select("doc_id")
    val emb = Tables.load(s, dir, "embeddings")
    val joined = kept.join(emb, col("doc_id") === col("vec_id"))
      .select(expr(
        "aggregate(transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127) AS BIGINT)), 0L, (a, v) -> a + v)")
        .as("qsum"))
    docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(scored.agg(count(lit(1)).as("n_filtered")))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      .crossJoin(joined.agg(count(lit(1)).as("n_embedded"),
        sum(col("qsum")).as("quant_checksum")))
  }

  private val ragCorpusSql =
    s"""WITH scored AS (
      |  SELECT doc_id,
      |         len(list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '')) AS n_tokens,
      |         md5(lower(trim(regexp_replace(text, '${TextStats.WsRe}', ' ', 'g')))) AS h
      |  FROM documents),
      |filtered AS (SELECT * FROM scored WHERE n_tokens >= 10),
      |kept AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      |    FROM filtered)
      |  WHERE rn = 1),
      |qs AS (
      |  SELECT list_sum([CAST(floor(CAST(embedding[i] AS DOUBLE) * 127) AS BIGINT)
      |                   for i in range(1, len(embedding) + 1)]) AS qsum
      |  FROM kept k JOIN embeddings e ON k.doc_id = e.vec_id)
      |SELECT (SELECT count(*) FROM documents) AS n_total,
      |       (SELECT count(*) FROM filtered) AS n_filtered,
      |       (SELECT count(*) FROM kept) AS n_kept,
      |       count(*) AS n_embedded,
      |       CAST(sum(qsum) AS BIGINT) AS quant_checksum
      |FROM qs""".stripMargin

  /** The canonical curation chain composed end-to-end: length filter →
    * exact near-dup removal (keep the lowest doc_id per normalized-content
    * hash) → per-(source, lang) accounting of what survives.
    */
  def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val scored = docs
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(TextStats.tokensCol).as("n_tokens"),
        Dedup.contentHash.as("h"))
      .where(col("n_tokens") >= 10)
    val kept = scored
      .withColumn("rn", row_number().over(Window.partitionBy("h").orderBy("doc_id")))
      .where(col("rn") === 1)
    kept.groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
  }

  private val cleanCorpusSql =
    s"""WITH scored AS (
      |  SELECT doc_id, source, lang, n_chars,
      |         len(list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '')) AS n_tokens,
      |         md5(lower(trim(regexp_replace(text, '${TextStats.WsRe}', ' ', 'g')))) AS h
      |  FROM documents),
      |filtered AS (SELECT * FROM scored WHERE n_tokens >= 10),
      |kept AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      |    FROM filtered)
      |  WHERE rn = 1)
      |SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |FROM kept GROUP BY source, lang""".stripMargin

  /** Distinct 8-gram set of a document, single pass (same shape as
    * [[Dedup]]'s trigram shingler and a UDF for the same reason — the
    * higher-order-function formulation re-inlines under generator filters).
    */
  private val gram8Udf = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val toks = text.trim.split(TextStats.WsRe).filter(_.nonEmpty)
      if (toks.length < 8) Array.empty[String]
      else {
        val seen = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i <= toks.length - 8) {
          seen += toks.slice(i, i + 8).mkString(" ")
          i += 1
        }
        seen.toArray
      }
    }
  }

  /** eval-set membership: first two hex chars of md5(doc_id) ≥ 'e0' (top
    * 12.5% of hash space) — deterministic, content-independent, identical in
    * Spark and DuckDB (same portable-membership trick as
    * [[sampleStratified]])
    */
  private val isEval: Column =
    substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) >= "e0"

  /** Benchmark decontamination: flag training documents sharing any 8-gram
    * with the held-out eval split, the standard pretraining contamination
    * check (GPT-3 appendix C / PaLM-style n-gram overlap). Here the "eval
    * benchmark" is a deterministic 12.5% hash-split of `documents`; in
    * production it is a separate tiny table, which makes the shape below the
    * real one: the eval side's distinct gram set is small enough to
    * broadcast (a few million 8-grams for a 100k-doc benchmark; at scale
    * you'd broadcast 64-bit gram hashes or a Bloom filter instead of
    * strings), so the train side is ONE full scan with a map-side hash join
    * and the only shuffle is the per-doc hit count. The eval filter sits
    * BELOW the gram UDF, so the expensive tokenization runs on 12.5% + 87.5%
    * of rows — never 2× the corpus.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val evalGrams = docs.where(isEval)
      .select(explode(gram8Udf(col("text"))).as("g"))
      .distinct()
    docs.where(!isEval)
      .select(col("doc_id"), col("source"), explode(gram8Udf(col("text"))).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_shared")) // grams are per-doc distinct already
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_contaminated"),
        sum(col("n_shared")).as("n_hits"),
        max(col("n_shared")).as("max_shared"))
  }

  private val decontaminateSql =
    s"""WITH toks AS (
      |  SELECT doc_id, source,
      |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e0' AS is_eval,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, is_eval,
      |         unnest(CASE WHEN len(t) >= 8
      |           THEN list_distinct([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)])
      |           ELSE [] END) AS g
      |  FROM toks),
      |eg AS (SELECT DISTINCT g FROM g WHERE is_eval),
      |hits AS (
      |  SELECT a.doc_id, a.source, count(*) AS n_shared
      |  FROM g a JOIN eg ON a.g = eg.g
      |  WHERE NOT a.is_eval GROUP BY 1, 2)
      |SELECT source, count(*) AS n_contaminated,
      |       CAST(sum(n_shared) AS BIGINT) AS n_hits,
      |       CAST(max(n_shared) AS BIGINT) AS max_shared
      |FROM hits GROUP BY source""".stripMargin

  /** training-window chunking params: 32-token windows, stride 24 (8-token
    * overlap) — small enough to exercise multi-chunk docs on the synthetic
    * corpus (p50 = 56 tokens); a production run would use 2048/1536 with the
    * identical plan
    */
  private[llm] val ChunkSize = 32
  private[llm] val ChunkStride = 24

  /** Sliding-window chunk texts of a document: k = ceil((n-size)/stride)+1
    * windows starting at multiples of stride, last window truncated at the
    * document end. Single pass, same UDF rationale as [[gram8Udf]].
    */
  private val chunkUdf = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val toks = text.trim.split(TextStats.WsRe).filter(_.nonEmpty)
      if (toks.isEmpty) Array.empty[String]
      else {
        val k =
          if (toks.length <= ChunkSize) 1
          else (toks.length - ChunkSize + ChunkStride - 1) / ChunkStride + 1
        Array.tabulate(k) { i =>
          val s = i * ChunkStride
          toks.slice(s, math.min(s + ChunkSize, toks.length)).mkString(" ")
        }
      }
    }
  }

  /** Library form: one row per (doc, chunk) with the chunk text — what a
    * training-data writer would feed a tokenizer. Narrow generate, no
    * shuffle; chunk_id is the window index.
    */
  def chunkDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(chunkUdf(col("text"))).as(Seq("chunk_id", "chunk_text")))

  /** Oracle-gated accounting over the materialized chunks. The md5-half sum
    * pins every chunk's BYTES (boundary placement, overlap, truncation)
    * cross-engine, not just the counts — the portable-hash recipe (md5 hex →
    * 32-bit half → integer sum) from the minhash oracle. Plan: narrow
    * generate → map-side partial agg → one low-cardinality shuffle on
    * source; at 100 TB the chunk rows stream through the aggregate without
    * ever materializing.
    */
  def chunkStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs.select(col("doc_id"), col("source"), explode(chunkUdf(col("text"))).as("c"))
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(size(split(col("c"), " ")).cast("long")).as("chunk_tokens"),
        sum(Portable.md5Int(col("c").cast("binary"))).as("chunk_md5_sum"))
  }

  private val chunkStatsSql =
    s"""WITH toks AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS t
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, source, t,
      |         CASE WHEN len(t) = 0 THEN 0
      |              WHEN len(t) <= $ChunkSize THEN 1
      |              ELSE (len(t) - $ChunkSize + $ChunkStride - 1) // $ChunkStride + 1 END AS n_ch
      |  FROM toks),
      |c AS (
      |  SELECT doc_id, source,
      |         unnest([array_to_string(t[i*$ChunkStride + 1 : i*$ChunkStride + $ChunkSize], ' ')
      |                 for i in range(0, n_ch)]) AS c
      |  FROM k)
      |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
      |       CAST(sum(len(string_split(c, ' '))) AS BIGINT) AS chunk_tokens,
      |       CAST(sum(${Portable.md5IntSql("c")}) AS BIGINT) AS chunk_md5_sum
      |FROM c GROUP BY source""".stripMargin

  /** content-defined chunking params: boundary test window of [[CdcW]]
    * tokens; a boundary closes a chunk when the window's portable hash ≡ 0
    * (mod [[CdcMask]]) → expected chunk length ≈ CdcMask tokens
    */
  private[llm] val CdcW    = 4
  private[llm] val CdcMask = 16

  /** (chunk md5, chunk token count) pairs of one document under
    * content-defined boundaries — ONE compiled pass; the boundary decision
    * is the first 8 md5 hex chars of the [[CdcW]]-token window as an int,
    * mod [[CdcMask]] (the portable-hash recipe, so DuckDB replays every
    * boundary). The last token always closes the trailing chunk.
    */
  private val cdcChunksUdf = udf { toks: Seq[String] =>
    if (toks.isEmpty) Seq.empty[(String, Int)]
    else {
      val out = Seq.newBuilder[(String, Int)]
      var start = 0
      var j = 0
      while (j < toks.length) {
        val isBoundary = j >= CdcW - 1 &&
          Portable.md5Int(toks.slice(j - CdcW + 1, j + 1).mkString(" ")) % CdcMask == 0L
        if (isBoundary || j == toks.length - 1) {
          out += ((Portable.md5Hex(toks.slice(start, j + 1).mkString(" ")), j + 1 - start))
          start = j + 1
        }
        j += 1
      }
      out.result()
    }
  }

  private val chunksCache = graft.Memo.base()

  /** Content-defined chunking + cross-document chunk dedup — the FastCDC/
    * rolling-boundary discipline of dedup storage applied to token streams:
    * chunk boundaries depend only on LOCAL window content, so an insertion
    * near a document's head shifts every fixed-stride window ([[chunkDocs]]
    * misaligns) but re-synchronizes CDC chunks at the next boundary — shared
    * tails hash to the same chunks and dedupe across docs regardless of
    * offset. Per doc: token/chunk counts, the largest chunk, and how many of
    * its chunks also occur in ≥ 2 distinct documents.
    *
    * 100 TB shape: one tokenize+chunk+hash pass per doc (compiled UDF), the
    * chunk relation is (doc_id, 32-hex, len) scalars, duplicate detection is
    * the [[graft.llm.Dedup.spanDedup]] single-distinct two-level aggregate +
    * left-semi join. Empty docs have no chunks and are absent by definition.
    */
  def chunkCdc(s: SparkSession, dir: String): DataFrame = {
    // memoized per dir: three consumers (dup detection, per-doc totals, dup
    // counts) would otherwise re-run the tokenize+chunk+hash pass 3×, and
    // the per-doc result is lazy, so no query scope can own the cache; a
    // 100 TB run materializes this relation to a table instead (same plan
    // shape)
    val ch = chunksCache(dir) { d =>
      Tables.loadSpread(s, d, "documents")
        .select(col("doc_id"), explode(cdcChunksUdf(TextStats.tokensCol)).as("c"))
        .select(col("doc_id"), col("c._1").as("h"), col("c._2").cast("long").as("len"))
    }
    val dupH = ch.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("h")
    val dups = ch.join(dupH, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
    ch.groupBy("doc_id")
      .agg(sum(col("len")).as("n_tokens"), count(lit(1)).as("n_chunks"),
        max(col("len")).as("max_chunk_tokens"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        col("max_chunk_tokens"), coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
  }

  private val chunkCdcSql =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS t
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, t, i,
      |         CASE WHEN i >= $CdcW AND
      |                   ${Portable.md5IntSql(s"array_to_string(t[i - ${CdcW - 1} : i], ' ')")} % $CdcMask = 0
      |              THEN 1 ELSE 0 END AS bnd
      |  FROM toks, unnest(range(1, len(t) + 1)) AS s(i)),
      |cid AS (
      |  SELECT doc_id, t, i,
      |         CAST(COALESCE(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk
      |  FROM win),
      |ch AS (
      |  SELECT doc_id, chunk,
      |         md5(string_agg(t[i], ' ' ORDER BY i)) AS h,
      |         count(*) AS len
      |  FROM cid GROUP BY doc_id, chunk),
      |duph AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
      |SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_tokens, count(*) AS n_chunks,
      |       CAST(max(len) AS BIGINT) AS max_chunk_tokens,
      |       CAST(sum(CASE WHEN h IN (SELECT h FROM duph) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
      |FROM ch GROUP BY doc_id""".stripMargin

  /** rows kept per stratum by [[samplePerStratum]] */
  val StratumN = 8

  /** Fixed-size per-stratum sample: exactly [[StratumN]] documents per
    * language, chosen by ranking on the content-independent md5 coin
    * (doc_id tie-break) — how a balanced eval set is cut from an unbalanced
    * corpus. Unlike the rate-based [[sampleStratified]], the output size per
    * stratum is exact, and membership is still a pure function of the id
    * (stable across runs/engines/retries).
    *
    * Scale notes (100 TB posture): rank-within-stratum is a window over the
    * (tiny) per-stratum candidate id set, not the documents — at extreme
    * stratum sizes swap row_number for a two-pass threshold on the hash
    * (select the N-th smallest coin per stratum via the histogram recipe,
    * then filter), which removes the sort entirely.
    */
  def samplePerStratum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs.select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))))
      .where(col("rk") <= StratumN)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
  }

  private val samplePerStratumSql =
    s"""SELECT lang, rk, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |         CAST(row_number() OVER (PARTITION BY lang
      |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
      |  FROM documents) r
      |WHERE rk <= $StratumN""".stripMargin

  /** Training-sequence packing length (tokens + 1 separator per doc). */
  val SeqLen = 256

  /** THE packing accounting aggregate over a per-stratum running sum
    * `end_pos` (and per-doc unit count `u`) — single definition shared by
    * [[packSequences]] and the composed [[trainReady]], with
    * [[packingAggSql]] its verbatim oracle twin, so the standalone query and
    * the pipeline can never diverge on boundary placement.
    */
  private def packingAgg: Seq[Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum(col("u")).as("total_units"),
    expr(s"(max(end_pos) + ${SeqLen - 1}) DIV $SeqLen").as("n_seqs"),
    (max(col("end_pos")) % SeqLen).as("tail_fill"))

  private val packingAggSql: String =
    s"""count(*) AS n_docs, CAST(sum(u) AS BIGINT) AS total_units,
      |       CAST((max(end_pos) + ${SeqLen - 1}) // $SeqLen AS BIGINT) AS n_seqs,
      |       CAST(max(end_pos) % $SeqLen AS BIGINT) AS tail_fill""".stripMargin

  /** Sequence-packing accounting: concatenate each source's documents in
    * deterministic doc_id order (one separator token between docs) and cut
    * fixed [[SeqLen]]-token training sequences — the "concat-and-chunk"
    * packing every pretraining shard writer does. Pure integer arithmetic
    * over a per-source running sum, so both engines place every boundary
    * identically: per source we pin the sequence count, how many documents
    * straddle a sequence boundary, and the fill of the final partial
    * sequence.
    *
    * Scale notes (100 TB posture): the running sum is a window per source —
    * the inherently sequential part of deterministic packing. At 100 TB the
    * unit of packing becomes (source, doc_id-range shard), which bounds each
    * window partition to one shard's docs and keeps sequences reproducible;
    * only shard-boundary padding differs from the global pack. Everything
    * after the cumsum is a map-side per-row projection + one
    * low-cardinality aggregate.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    // spread: tokenization runs in the scan stage, which is one task on
    // single-row-group testdata; the window shuffle that follows re-clusters
    // by source regardless
    val docs = Tables.loadSpread(s, dir, "documents")
    val units = docs.select(col("source"), col("doc_id"),
      (size(TextStats.tokensCol) + 1).cast("long").as("u"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    val pos = units
      .withColumn("end_pos", sum(col("u")).over(w))
      .withColumn("start_pos", col("end_pos") - col("u"))
    val straddling = sum(
      when(expr(s"(end_pos - 1) DIV $SeqLen > start_pos DIV $SeqLen"), 1L)
        .otherwise(0L)).as("n_straddling")
    val aggs = packingAgg :+ straddling
    pos.groupBy("source").agg(aggs.head, aggs.tail: _*)
  }

  private val packSequencesSql =
    s"""WITH u AS (
      |  SELECT source, doc_id,
      |         CAST(len(list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '')) + 1 AS BIGINT) AS u
      |  FROM documents),
      |p AS (
      |  SELECT source, u,
      |         sum(u) OVER (PARTITION BY source ORDER BY doc_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_pos
      |  FROM u),
      |p2 AS (SELECT source, u, end_pos, end_pos - u AS start_pos FROM p)
      |SELECT source, $packingAggSql,
      |       CAST(count(*) FILTER (WHERE (end_pos - 1) // $SeqLen > start_pos // $SeqLen) AS BIGINT) AS n_straddling
      |FROM p2 GROUP BY source""".stripMargin

  /** The full train-ready chain composed end-to-end in ONE declarative plan:
    * model-scored quality filter ([[Governance.logitCol]] > 0) → exact
    * near-dup removal ([[Dedup.contentHash]], keep lowest doc_id) →
    * sequence-packing accounting ([[packSequences]]'s grid) — i.e. what a
    * shard writer materializes before tokenization. Every stage reuses the
    * SHARED column definitions of its standalone operator, so this query
    * also pins that the pieces compose without re-tokenizing (one scan, one
    * token array).
    *
    * Scale notes (100 TB posture): one scan; the only wide ops are the
    * dedup hash partition and the per-source packing window, both keys a
    * production layout buckets/shards by. Filter sits BEFORE the dedup
    * shuffle, dedup before the window — each stage shrinks the relation the
    * next one shuffles.
    */
  def trainReady(s: SparkSession, dir: String): DataFrame = {
    val feat = Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), col("source"), TextStats.tokensCol.as("tokens"),
        Dedup.contentHash.as("h"))
      .select(Seq(col("doc_id"), col("source"), col("h")) ++ Governance.featureCols: _*)
      .where(col("n_tokens") > 0)
      .where(Governance.logitCol > 0.0)
    val kept = feat
      .withColumn("rn", row_number().over(Window.partitionBy("h").orderBy("doc_id")))
      .where(col("rn") === 1)
    val w = Window.partitionBy("source").orderBy("doc_id")
    kept.select(col("source"), col("doc_id"), (col("n_tokens") + 1).cast("long").as("u"))
      .withColumn("end_pos", sum(col("u")).over(w))
      .groupBy("source")
      .agg(packingAgg.head, packingAgg.tail: _*)
  }

  private val trainReadySql =
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS tokens,
      |         md5(lower(trim(regexp_replace(text, '${TextStats.WsRe}', ' ', 'g')))) AS h
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, source, h, ${Governance.featureSql}
      |  FROM t WHERE len(tokens) > 0),
      |q AS (SELECT * FROM f WHERE ${Governance.logitSql} > 0.0),
      |kept AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM q)
      |  WHERE rn = 1),
      |p AS (
      |  SELECT source, CAST(n_tokens + 1 AS BIGINT) AS u,
      |         sum(n_tokens + 1) OVER (PARTITION BY source ORDER BY doc_id
      |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_pos
      |  FROM kept)
      |SELECT source, $packingAggSql
      |FROM p GROUP BY source""".stripMargin

  /** The 90/5/5 train/val/test label of a document: its salted portable
    * coin `md5Int("split:" || doc_id) % 1000` cut at 900 and 950 — a pure
    * function of doc_id, identical in Spark and DuckDB, so assignment
    * survives retries, replays, and engine swaps.
    */
  private val splitLabel: Column = {
    val coin = Portable.md5Int(concat(lit("split:"), col("doc_id").cast("string")).cast("binary")) % 1000
    when(coin < 900, "train").when(coin < 950, "val").otherwise("test")
  }

  private val splitLabelSql: String = {
    val coin = s"${Portable.md5IntSql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000"
    s"CASE WHEN $coin < 900 THEN 'train' WHEN $coin < 950 THEN 'val' ELSE 'test' END"
  }

  /** Deterministic train/val/test split (90/5/5): the salted hash coin
    * assigns every document to exactly one split as a pure function of its
    * id — disjoint, exhaustive, and stable under retries and re-runs (the
    * property `rand()`-based splits lack). Per-(source, split) accounting
    * proves the cut is stratified-in-expectation and leak-free: the same
    * doc_id can never appear in two splits because the assignment is a
    * partition of the coin's range.
    *
    * Scale notes (100 TB posture): one narrow projection + one
    * low-cardinality aggregate — the split column would be written once at
    * ingest and every downstream reader filters on it (partition or
    * predicate pushdown), never re-hashing.
    */
  def splitTrainEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs
      .withColumn("split", splitLabel)
      .groupBy("source", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  private val splitTrainEvalSql =
    s"""WITH a AS (
      |  SELECT source, n_chars, $splitLabelSql AS split
      |  FROM documents)
      |SELECT source, split, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM a GROUP BY source, split""".stripMargin

  /** Covariate-balance audit of the [[splitTrainEval]] cut: per feature
    * (chars, tokens) and per held-out split, the standardized mean
    * difference vs train — SMD = (m₁−m₂)/√((v₁+v₂)/2), THE metric a
    * trial/ML-ops balance check reports (|SMD| < 0.1 ≈ balanced). Moments
    * come from exact int64 (n, Σx, Σx²) per split; the SMD itself is a
    * fixed sequence of correctly-rounded double ops (IEEE sqrt is correctly
    * rounded — the CLAUDE.md engine-exact list), floored to milli. A
    * hash-based split SHOULD be balanced; this is the query that proves it
    * instead of assuming it.
    *
    * 100 TB shape: one melt + one (split, feature)-domain aggregate; the
    * comparison join is 2×2 rows.
    */
  def splitBalanceAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .withColumn("split", splitLabel)
      .withColumn("n_tokens", size(TextStats.tokensCol).cast("long"))
    val long = docs.select(col("split"), lit("n_chars").as("feature"), col("n_chars").as("x"))
      .unionAll(docs.select(col("split"), lit("n_tokens").as("feature"), col("n_tokens").as("x")))
    val st = long.groupBy("split", "feature")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sx2"))
    val a = st.where(col("split") === "train")
      .select(col("feature"), col("n").as("n_a"), col("sx").as("sx_a"), col("sx2").as("sx2_a"))
    val b = st.where(col("split") =!= "train")
      .select(col("split").as("split_b"), col("feature"),
        col("n").as("n_b"), col("sx").as("sx_b"), col("sx2").as("sx2_b"))
    def v(sx: String, sx2: String, n: String) =
      s"(CAST($sx2 AS DOUBLE) / $n - (CAST($sx AS DOUBLE) / $n) * (CAST($sx AS DOUBLE) / $n))"
    a.join(b, "feature")
      .select(col("feature"), col("split_b"), col("n_a"), col("n_b"),
        expr("CAST(sx_a AS DOUBLE) / n_a").as("mean_a"),
        expr("CAST(sx_b AS DOUBLE) / n_b").as("mean_b"),
        expr(s"""CASE WHEN ${v("sx_a", "sx2_a", "n_a")} + ${v("sx_b", "sx2_b", "n_b")} > 0
                |THEN CAST(floor((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b)
                |  / sqrt((${v("sx_a", "sx2_a", "n_a")} + ${v("sx_b", "sx2_b", "n_b")}) / 2)
                |  * 1000) AS BIGINT) END""".stripMargin).as("smd_milli"))
      .orderBy(col("feature"), col("split_b"))
  }

  private val splitBalanceAuditSql = {
    def v(sx: String, sx2: String, n: String) =
      s"(CAST($sx2 AS DOUBLE) / $n - (CAST($sx AS DOUBLE) / $n) * (CAST($sx AS DOUBLE) / $n))"
    s"""WITH d AS (
      |  SELECT $splitLabelSql AS split,
      |         n_chars,
      |         CAST(len(list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |long AS (
      |  SELECT split, 'n_chars' AS feature, n_chars AS x FROM d
      |  UNION ALL
      |  SELECT split, 'n_tokens' AS feature, n_tokens AS x FROM d),
      |st AS (
      |  SELECT split, feature, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sx2
      |  FROM long GROUP BY 1, 2)
      |SELECT a.feature, b.split AS split_b, a.n AS n_a, b.n AS n_b,
      |       CAST(a.sx AS DOUBLE) / a.n AS mean_a,
      |       CAST(b.sx AS DOUBLE) / b.n AS mean_b,
      |       CASE WHEN ${v("a.sx", "a.sx2", "a.n")} + ${v("b.sx", "b.sx2", "b.n")} > 0
      |       THEN CAST(floor((CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
      |         / sqrt((${v("a.sx", "a.sx2", "a.n")} + ${v("b.sx", "b.sx2", "b.n")}) / 2)
      |         * 1000) AS BIGINT) END AS smd_milli
      |FROM (SELECT * FROM st WHERE split = 'train') a
      |JOIN (SELECT * FROM st WHERE split <> 'train') b USING (feature)
      |ORDER BY feature, split_b""".stripMargin
  }

  /** Shards per training epoch in [[epochShuffle]]. */
  val EpochShards = 8

  /** Deterministic epoch shuffle: the sharded permutation a training run
    * reads — shard = hash(epoch, id) mod [[EpochShards]], order within the
    * shard by the same hash. Global order is (shard, pos) lexicographic;
    * different epochs get independent permutations from the salt, and any
    * worker can re-materialize its shard's order from ids alone.
    *
    * Scale notes (100 TB posture): this is exactly how training data is laid
    * out at scale — N shard files, each locally ordered — because a single
    * global `row_number` would funnel the corpus through one partition. The
    * window below partitions by (epoch, shard), so each shard sorts
    * independently; at 100 TB, shards map 1:1 to output files and the sort
    * is a per-file spillable sort, never a global one.
    */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val withEpoch = docs
      .select(col("doc_id"), explode(array(lit(1), lit(2))).as("epoch"))
      .withColumn("coin",
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string")).cast("binary")))
      .withColumn("shard",
        Portable.hexInt(col("coin")) % EpochShards)
    withEpoch
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch", "shard").orderBy(col("coin"), col("doc_id"))))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
  }

  private val epochShuffleSql =
    s"""WITH e AS (
      |  SELECT doc_id, epoch,
      |         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS coin
      |  FROM documents, (VALUES (1), (2)) ep(epoch)),
      |sh AS (
      |  SELECT epoch, doc_id, coin,
      |         ${Portable.hexIntSql("coin")} % $EpochShards AS shard
      |  FROM e)
      |SELECT epoch, shard,
      |       CAST(row_number() OVER (PARTITION BY epoch, shard
      |           ORDER BY coin, doc_id) AS INTEGER) AS pos,
      |       doc_id
      |FROM sh""".stripMargin

  /** Text normalization audit: lowercase + whitespace-collapse + trim over a
    * deterministically "dirtied" wire rendering of the corpus (leading
    * blanks, an upper-cased prefix, an embedded tab, a trailing CRLF on
    * every third doc — the damage real scraped text carries). Per-source
    * before/after byte accounting plus the md5-sum pin from the PII audit:
    * a normalizer that eats or leaks one byte flips the gate.
    *
    * Scale notes (100 TB posture): pure narrow codegen projections
    * (`lower`/`regexp_replace`/`trim`) — no shuffle until the accounting
    * aggregate; the normalized text streams straight to the next stage.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val noisy = concat(
      lit("  "),
      upper(substring(col("text"), 1, 40)),
      lit("\t"),
      expr("substr(text, 41)"),
      when(col("doc_id") % 3 === 0, lit(" \r\n")).otherwise(lit("")))
    val norm = trim(regexp_replace(lower(noisy), TextStats.WsRe, " "))
    docs
      .select(col("source"), noisy.as("noisy"), norm.as("norm"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("noisy")).cast("long")).as("chars_in"),
        sum(length(col("norm")).cast("long")).as("chars_out"),
        sum(Portable.md5Int(col("norm").cast("binary"))).as("norm_md5_sum"))
  }

  private val textNormalizeSql =
    s"""WITH noisy AS (
      |  SELECT source,
      |         '  ' || upper(substr(text, 1, 40)) || chr(9) || substr(text, 41)
      |         || CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(13) || chr(10) ELSE '' END AS noisy
      |  FROM documents),
      |n AS (
      |  SELECT source, noisy,
      |         trim(regexp_replace(lower(noisy), '${TextStats.WsRe}', ' ', 'g')) AS norm
      |  FROM noisy)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(len(noisy)) AS BIGINT) AS chars_in,
      |       CAST(sum(len(norm)) AS BIGINT) AS chars_out,
      |       CAST(sum(${Portable.md5IntSql("norm")}) AS BIGINT) AS norm_md5_sum
      |FROM n GROUP BY source""".stripMargin

  /** DSIR hashed-feature buckets (2^8 — the published method uses 10^4+ at
    * web scale; the bucket table broadcasts at any B that fits a hash map)
    */
  val DsirBuckets = 256
  /** sources standing in for the curated target domain */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")
  /** docs selected */
  val DsirTopK = 50

  /** word bigrams WITH multiplicity (DSIR scores occurrence counts, unlike
    * the dedup shinglers' distinct sets); compiled for the gram8Udf reason
    */
  private val bigramsUdf = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val toks = text.trim.split(TextStats.WsRe).filter(_.nonEmpty)
      if (toks.length < 2) Array.empty[String]
      else Array.tabulate(toks.length - 1)(i => toks(i) + " " + toks(i + 1))
    }
  }

  /** The trained DSIR "model": the 256-long bucket→weight vector (smoothed
    * target/raw ratio ×10^6, [[dsirSelect]]'s `w` relation collected —
    * model-sized by construction). Buckets no training gram hit default to
    * the smoothing prior (1+0)·10^6/(0+1) = 10^6, exactly what the ratio
    * formula yields for an empty bucket.
    */
  def dsirWeightVector(s: SparkSession, dir: String): Array[Long] = {
    val w = Array.fill(DsirBuckets)(1000000L)
    dsirBuckets(Tables.loadSpread(s, dir, "documents"))
      .groupBy("bucket")
      .agg(expr("(sum(is_tgt) + 1) * 1000000 div (count(1) + 1)").as("wt"))
      .collect().foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    w
  }

  /** (doc_id, source, bucket, is_tgt) — one row per bigram occurrence */
  private def dsirBuckets(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), explode(bigramsUdf(col("text"))).as("gram"))
      .select(col("doc_id"), col("source"),
        (Portable.md5Int(concat(lit("dsir:"), col("gram")).cast("binary")) % DsirBuckets)
          .as("bucket"),
        when(col("source").isin(DsirTargetSources: _*), 1L).otherwise(0L).as("is_tgt"))

  /** Scalar DSIR scorer against a trained weight vector — the ONLINE form of
    * [[dsirSelect]]'s aggregate scoring: one stateless compiled pass per
    * row (bigram → md5 bucket → weight sum), no explode, no join, no state,
    * so it runs identically under batch and Structured Streaming (the
    * ingest-time admission filter). Bit-equal to the batch path: same
    * tokenizer, same md5 bucket arithmetic, same integer sum.
    */
  def dsirScoreUdf(weights: Array[Long]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) 0L
      else {
        val toks = text.trim.split(TextStats.WsRe).filter(_.nonEmpty)
        if (toks.length < 2) 0L
        else {
          var s = 0L
          var i = 0
          while (i < toks.length - 1) {
            s += weights((Portable.md5Int(s"dsir:${toks(i)} ${toks(i + 1)}") % weights.length).toInt)
            i += 1
          }
          s
        }
      }
    }

  /** Data selection with importance resampling (DSIR, Xie et al. 2023): rank
    * raw documents by how target-domain-like their hashed n-gram feature
    * distribution is, and keep the top K — the published recipe for choosing
    * pre-training data that matches a curated domain. Features are word
    * bigrams hashed into [[DsirBuckets]] buckets; each bucket's importance
    * weight is the smoothed target/raw frequency ratio, and a document's
    * score sums its occurrences' bucket weights. All arithmetic is integer
    * (ratio as `(tgt+1)·10^6 div (raw+1)`, scores as long sums; the paper's
    * log-likelihood ratio ordering is monotone-equivalent per bucket), and
    * the bucket hash is the portable md5 recipe — so the WHOLE selection,
    * scores and ties included, replays bit-for-bit in DuckDB.
    *
    * 100 TB posture: one corpus pass explodes bigrams (codegen md5 bucket),
    * the two distributions fold into ONE 256-row aggregate (conditional sum
    * for the target side), weights broadcast back, per-doc scores are one
    * map-side-combined sum, and the final cut is a TakeOrderedAndProject
    * (per-partition top-K, driver merges K×partitions rows — never a global
    * sort). Docs with < 2 tokens have no features and drop, as in the paper.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val b = dsirBuckets(Tables.loadSpread(s, dir, "documents"))
    val w = b.groupBy("bucket")
      .agg(expr("(sum(is_tgt) + 1) * 1000000 div (count(1) + 1)").as("wt"))
    b.join(broadcast(w), "bucket")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"), sum("wt").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  private val dsirSelectSql = {
    val tgt = DsirTargetSources.mkString("('", "', '", "')")
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(trim(text), '${TextStats.WsRe}'), x -> x <> '') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS gram
      |  FROM t, unnest(range(1, len(t))) AS r(i)),
      |b AS (
      |  SELECT doc_id, source,
      |         ${Portable.md5IntSql("'dsir:' || gram")} % $DsirBuckets AS bucket,
      |         CASE WHEN source IN $tgt THEN 1 ELSE 0 END AS is_tgt
      |  FROM g),
      |w AS (
      |  SELECT bucket,
      |         (CAST(sum(is_tgt) AS BIGINT) + 1) * 1000000 // (count(*) + 1) AS wt
      |  FROM b GROUP BY bucket),
      |d AS (
      |  SELECT doc_id, source, count(*) AS n_grams, CAST(sum(wt) AS BIGINT) AS score
      |  FROM b JOIN w USING (bucket) GROUP BY 1, 2)
      |SELECT doc_id, source, n_grams, score
      |FROM d ORDER BY score DESC, doc_id LIMIT $DsirTopK""".stripMargin
  }

  /** total selection budget for [[temperatureMixture]] */
  val TempBudget = 120

  /** Temperature-flattened mixture sampling (the mT5/Gopher multilingual
    * data-mixing recipe): per-domain sampling mass `p_i ∝ n_i^(1/τ)` with
    * τ = 2, which upweights small domains relative to proportional sampling
    * so head domains stop drowning the tail. `n^(1/2)` is `floor(sqrt(n))`
    * in both engines — IEEE sqrt is correctly rounded, so the floor is the
    * SAME integer cross-engine and the whole quota arithmetic stays exact:
    * `quota_i = isqrt(n_i) · budget div Σ isqrt(n_j)` (largest-remainder
    * corrections belong to the serving layer; the floor quota is the
    * deterministic contract). Members are the hash-ranked first `quota_i`
    * docs of each domain — the [[samplePerStratum]] discipline, so a retry
    * or a re-run selects identical documents.
    *
    * 100 TB posture: domain counts are one tiny aggregate; quotas broadcast
    * back; the per-domain rank is a window over the domain partition (the
    * same shuffle a per-domain sort shard write needs anyway). Output is
    * per-domain accounting plus an md5-half checksum over the SELECTED doc
    * ids, so a single membership flip fails the gate.
    */
  def temperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select("source", "doc_id")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("isq", floor(sqrt(col("n_docs"))).cast("long"))
    val quotas = counts
      .crossJoin(broadcast(counts.agg(sum("isq").as("tot_isq"))))
      .withColumn("quota", expr(s"isq * $TempBudget div tot_isq"))
      .select("source", "n_docs", "quota")
    docs
      .withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(md5(concat(lit("tmix:"), col("doc_id").cast("string")).cast("binary")),
            col("doc_id"))))
      .join(broadcast(quotas), "source")
      .where(col("rk") <= col("quota"))
      .groupBy("source", "n_docs", "quota")
      .agg(
        count(lit(1)).as("n_selected"),
        sum(Portable.md5Int(col("doc_id").cast("string").cast("binary"))).as("sel_checksum"))
  }

  private val temperatureMixtureSql =
    s"""WITH c AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(floor(sqrt(count(*))) AS BIGINT) AS isq
      |  FROM documents GROUP BY source),
      |q AS (
      |  SELECT source, n_docs,
      |         isq * $TempBudget // (SELECT CAST(sum(isq) AS BIGINT) FROM c) AS quota
      |  FROM c),
      |r AS (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5('tmix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT q.source, q.n_docs, quota,
      |       count(*) AS n_selected,
      |       CAST(sum(${Portable.md5IntSql("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS sel_checksum
      |FROM r JOIN q ON r.source = q.source
      |WHERE rk <= quota
      |GROUP BY 1, 2, 3""".stripMargin

  /** Deterministic stratified-bootstrap SYNTHESIS + fidelity audit — the
    * privacy-safe synthetic-twin step a data team runs to share a dataset's
    * shape without its rows: per stratum (order priority), synthetic record
    * i re-draws a real record by rank `h(i) mod n` where h is the portable
    * md5 integer — a bootstrap resample BOTH engines generate bit-
    * identically (no RNG state; the "generator" is a pure hash of the row
    * index, retry/replay/engine-stable like every sample in this pack).
    * The draw is an EQUI-join on (stratum, rank) against the rank-indexed
    * real rows — never interval containment, never a nested loop — so
    * synthesis scales like any keyed join. The audit emits per-stratum
    * real-vs-synthetic counts, exact cent sums, and distinct-value draws;
    * the hash gate certifies generation AND audit end to end.
    */
  def synthBootstrapAudit(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_orderpriority").as("pr"),
      floor(col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("pr").orderBy(col("cents"), col("k"))
    val ranked = o.withColumn("rank", row_number().over(w))
    val sizes = o.groupBy("pr").agg(count(lit(1)).as("n"))
    // ONE synthetic draw per real row, keyed by the row's own id (no global
    // index, no driver-side N): stratum = the row's own stratum (marginal
    // preserved exactly), drawn rank = h(id) mod n_stratum — a pure per-row
    // hash, fully map-parallel
    val assigned = o
      .select(col("pr"),
        Portable.md5Int(concat(lit("synth:"), col("k").cast("string"))).as("h"))
      .join(broadcast(sizes), "pr")
      .select(col("pr"), (pmod(col("h"), col("n")) + 1).as("rank"))
    val synth = assigned.join(ranked.select("pr", "rank", "cents"), Seq("pr", "rank"))
    val real = o.groupBy("pr").agg(
      count(lit(1)).as("n_real"),
      sum(col("cents")).as("cents_real"))
    synth.groupBy("pr").agg(
      count(lit(1)).as("n_synth"),
      sum(col("cents")).as("cents_synth"),
      countDistinct(col("rank")).as("n_distinct_draws"))
      .join(real, "pr")
      .select(col("pr").as("priority"), col("n_real"), col("n_synth"),
        col("cents_real"), col("cents_synth"), col("n_distinct_draws"))
  }

  private val synthBootstrapAuditSql =
    s"""WITH o AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS pr,
      |         CAST(floor(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      |  FROM orders),
      |ranked AS (
      |  SELECT pr, cents,
      |         row_number() OVER (PARTITION BY pr ORDER BY cents, k) AS rank
      |  FROM o),
      |sizes AS (SELECT pr, count(*) AS n FROM o GROUP BY pr),
      |draws AS (
      |  SELECT pr,
      |         ${Portable.md5IntSql("'synth:' || CAST(k AS VARCHAR)")} AS h
      |  FROM o),
      |assigned AS (
      |  SELECT d.pr, (d.h % s.n) + 1 AS rank
      |  FROM draws d JOIN sizes s USING (pr)),
      |synth AS (
      |  SELECT a.pr, r.cents, a.rank
      |  FROM assigned a JOIN ranked r ON r.pr = a.pr AND r.rank = a.rank),
      |real AS (
      |  SELECT pr, count(*) AS n_real, CAST(sum(cents) AS BIGINT) AS cents_real
      |  FROM o GROUP BY pr)
      |SELECT pr AS priority, n_real,
      |       count(*) AS n_synth,
      |       cents_real,
      |       CAST(sum(s.cents) AS BIGINT) AS cents_synth,
      |       count(DISTINCT s.rank) AS n_distinct_draws
      |FROM synth s JOIN real USING (pr)
      |GROUP BY pr, n_real, cents_real""".stripMargin

  /** short-doc cut (tokens) for the [[datasetCard]] short-doc metric */
  val CardShortTok = 10L

  /** Dataset card / datasheet — the one-relation summary a corpus release
    * ships (the "Datasheets for Datasets" practice): size, source/language
    * breadth, token statistics (total, floor-mean, exact ceil-rank median),
    * exact-duplicate accounting, concentration, and the short-doc tail — a
    * TALL (metric, value) relation so downstream tooling diffs cards
    * across releases without schema churn. Every number is exact integer
    * arithmetic; the median rides the verified `rn·2 ≥ n` ceil-rank rule on
    * the token-count histogram.
    *
    * 100 TB shape: ONE tokenize pass builds the per-doc profile (id,
    * source, lang, chars, tokens, text-md5) — everything else aggregates
    * that narrow relation: the duplicate leg shuffles 16-byte hashes, the
    * median runs on the token-count histogram (value-domain-bounded), and
    * the final card is a handful of 1-row reduces unioned metadata-side.
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val d = keep(Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(TextStats.tokensCol).cast("long").as("n_tok"),
        md5(col("text").cast("binary")).as("h")))
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).as("n_chars_total"),
      sum(col("n_tok")).as("n_tokens_total"),
      sum(when(col("n_tok") < CardShortTok, 1L).otherwise(0L)).as("n_short_docs"))
    val langs = d.agg(countDistinct(col("lang")).as("n_langs"))
    val dups = d.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c")).otherwise(0L)), lit(0L))
        .as("n_dup_docs"))
    val topSrc = d.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top_source_docs"))
    // exact median tokens/doc: ceil-rank rule on the token-count histogram
    // (value-domain-bounded; the constant-pid idiom keeps the tiny global
    // window off WindowExec's move-everything path — CLAUDE.md)
    val medTok = d.groupBy(col("n_tok")).agg(count(lit(1)).as("c"))
      .repartition(1).withColumn("pid", spark_partition_id())
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("pid")).orderBy(col("n_tok"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
      .where(col("cum") * 2 >= col("n"))
      .agg(min(col("n_tok")).as("median_tokens"))
    val row = base.crossJoin(broadcast(langs)).crossJoin(broadcast(dups))
      .crossJoin(broadcast(topSrc)).crossJoin(broadcast(medTok))
    def m(name: String, v: Column) =
      struct(lit(name).as("metric"), v.cast("long").as("value"))
    row.select(explode(array(
        m("n_docs", col("n_docs")),
        m("n_sources", col("n_sources")),
        m("n_langs", col("n_langs")),
        m("n_chars_total", col("n_chars_total")),
        m("n_tokens_total", col("n_tokens_total")),
        m("mean_tokens_per_doc", expr("n_tokens_total div n_docs")),
        m("median_tokens_per_doc", col("median_tokens")),
        m("n_exact_dup_docs", col("n_dup_docs")),
        m("dup_ppm", expr("n_dup_docs * 1000000 div n_docs")),
        m("top_source_share_ppm", expr("top_source_docs * 1000000 div n_docs")),
        m("n_short_docs", col("n_short_docs")))).as("p"))
      .select(col("p.metric"), col("p.value"))
      .orderBy(col("metric"))
  }

  private val datasetCardSql =
    s"""WITH d AS (
      |  SELECT doc_id, source, lang, n_chars,
      |         CAST(len(${TextStats.tokensSql}) AS BIGINT) AS n_tok,
      |         md5(text) AS h
      |  FROM documents),
      |base AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |         CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
      |         CAST(sum(n_tok) AS BIGINT) AS n_tokens_total,
      |         CAST(sum(CASE WHEN n_tok < $CardShortTok THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs
      |  FROM d),
      |dups AS (
      |  SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT) AS n_dup_docs
      |  FROM (SELECT h, count(*) AS c FROM d GROUP BY h)),
      |topsrc AS (
      |  SELECT CAST(max(c) AS BIGINT) AS top_source_docs
      |  FROM (SELECT source, count(*) AS c FROM d GROUP BY source)),
      |med AS (
      |  SELECT CAST(min(n_tok) AS BIGINT) AS median_tokens
      |  FROM (SELECT n_tok,
      |               sum(c) OVER (ORDER BY n_tok
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |               (SELECT count(*) FROM d) AS n
      |        FROM (SELECT n_tok, count(*) AS c FROM d GROUP BY n_tok))
      |  WHERE cum * 2 >= n)
      |SELECT metric, value FROM (
      |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
      |  UNION ALL SELECT 'n_sources', n_sources FROM base
      |  UNION ALL SELECT 'n_langs', n_langs FROM base
      |  UNION ALL SELECT 'n_chars_total', n_chars_total FROM base
      |  UNION ALL SELECT 'n_tokens_total', n_tokens_total FROM base
      |  UNION ALL SELECT 'mean_tokens_per_doc', n_tokens_total // n_docs FROM base
      |  UNION ALL SELECT 'median_tokens_per_doc', median_tokens FROM med
      |  UNION ALL SELECT 'n_exact_dup_docs', n_dup_docs FROM dups
      |  UNION ALL SELECT 'dup_ppm', n_dup_docs * 1000000 // n_docs FROM dups CROSS JOIN base
      |  UNION ALL SELECT 'top_source_share_ppm', top_source_docs * 1000000 // n_docs
      |            FROM topsrc CROSS JOIN base
      |  UNION ALL SELECT 'n_short_docs', n_short_docs FROM base)
      |ORDER BY metric""".stripMargin

  /** admission ladder cuts: min tokens, min distinct-token ppm, min
    * letter-char ppm — deliberately simple thresholds; the point is the
    * LADDER (deterministic first-failed-gate attribution), not the tuning
    */
  val AdmitMinTok = 10L
  val AdmitMinDiversityPpm = 300000L
  val AdmitMinAlphaPpm = 500000L

  /** Corpus admission report — the whole ingest-time filter pipeline as ONE
    * relation: every document passes a fixed gate LADDER (too-short →
    * low-diversity → bad-charset → admitted) and is attributed to its
    * FIRST failed gate (the process-conformance priority-ladder discipline:
    * each doc counts in exactly one bucket, so the report is a partition
    * and reads as "what would fixing gate k recover"). Per source:
    * admission rate in exact ppm plus the per-gate rejection counts. All
    * integer — token counts, distinct-token diversity ppm, and letter-char
    * ppm from one tokenize/scan pass.
    *
    * 100 TB shape: one narrow per-doc projection (no shuffle until the
    * source-sized accounting aggregate); the gates are codegen'd
    * expressions over per-row scalars — the same plan at any corpus size.
    */
  def corpusAdmission(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(s, dir, "documents")
      .select(col("source"),
        size(TextStats.tokensCol).cast("long").as("n_tok"),
        size(array_distinct(TextStats.tokensCol)).cast("long").as("n_dist"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("n_alpha"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("verdict",
        when(col("n_tok") < AdmitMinTok, "1_too_short")
          .when(col("n_dist") * 1000000 < col("n_tok") * AdmitMinDiversityPpm,
            "2_low_diversity")
          .when(col("n_alpha") * 1000000 < col("n_chars") * AdmitMinAlphaPpm,
            "3_bad_charset")
          .otherwise(lit("0_admitted")))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("verdict") === "0_admitted", 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("verdict") === "1_too_short", 1L).otherwise(0L)).as("n_too_short"),
        sum(when(col("verdict") === "2_low_diversity", 1L).otherwise(0L)).as("n_low_diversity"),
        sum(when(col("verdict") === "3_bad_charset", 1L).otherwise(0L)).as("n_bad_charset"))
      .withColumn("admit_ppm", expr("n_admitted * 1000000 div n_docs"))
      .orderBy(col("source"))
  }

  private val corpusAdmissionSql =
    s"""WITH d AS (
      |  SELECT source,
      |         CAST(len(${TextStats.tokensSql}) AS BIGINT) AS n_tok,
      |         CAST(len(list_distinct(${TextStats.tokensSql})) AS BIGINT) AS n_dist,
      |         CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
      |         CAST(len(text) AS BIGINT) AS n_chars
      |  FROM documents),
      |v AS (
      |  SELECT source,
      |         CASE WHEN n_tok < $AdmitMinTok THEN '1_too_short'
      |              WHEN n_dist * 1000000 < n_tok * $AdmitMinDiversityPpm THEN '2_low_diversity'
      |              WHEN n_alpha * 1000000 < n_chars * $AdmitMinAlphaPpm THEN '3_bad_charset'
      |              ELSE '0_admitted' END AS verdict
      |  FROM d)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN verdict = '0_admitted' THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
      |       CAST(sum(CASE WHEN verdict = '1_too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
      |       CAST(sum(CASE WHEN verdict = '2_low_diversity' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_diversity,
      |       CAST(sum(CASE WHEN verdict = '3_bad_charset' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_charset,
      |       CAST(sum(CASE WHEN verdict = '0_admitted' THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |         // CAST(count(*) AS BIGINT) AS admit_ppm
      |FROM v GROUP BY source
      |ORDER BY source""".stripMargin

  /** Token-budget mixture planner — the capacity question a pretraining
    * data plan answers FIRST: after exact dedup (keep the lowest doc_id
    * per content hash), how many tokens does each source actually have,
    * and what uniform per-source budget can the corpus fund? The binding
    * budget T = min over sources of post-dedup tokens; each source
    * reports raw vs kept tokens, the dedup loss, its surplus over T, and
    * utilization T/kept in exact ppm — "which source binds the mixture
    * and how much of everything else goes unused". One tokenize pass;
    * dedup membership is a (hash → min id) aggregate; the budget is a
    * broadcast 1-row reduce.
    */
  def tokenBudgetPlan(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val d = keep(Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextStats.tokensCol).cast("long").as("n_tok"),
        md5(col("text").cast("binary")).as("h")))
    val firsts = d.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val kept = d.join(firsts, Seq("h", "doc_id"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("tokens_kept"))
    val raw = d.groupBy(col("source")).agg(sum(col("n_tok")).as("tokens_raw"))
    val budget = kept.agg(min(col("tokens_kept")).as("t_budget"))
    val out = raw.join(kept, "source")
      .crossJoin(broadcast(budget))
      .select(col("source"), col("tokens_raw"), col("tokens_kept"),
        (col("tokens_raw") - col("tokens_kept")).as("tokens_deduped_away"),
        col("t_budget"),
        (col("tokens_kept") - col("t_budget")).as("surplus_tokens"),
        expr("t_budget * 1000000 div tokens_kept").as("utilization_ppm"))
      .orderBy(col("source"))
    out
  }

  private val tokenBudgetPlanSql =
    s"""WITH d AS (
      |  SELECT doc_id, source, CAST(len(${TextStats.tokensSql}) AS BIGINT) AS n_tok,
      |         md5(text) AS h
      |  FROM documents),
      |keep AS (SELECT h, min(doc_id) AS doc_id FROM d GROUP BY h),
      |kept AS (
      |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens_kept
      |  FROM d JOIN keep USING (h, doc_id) GROUP BY source),
      |raw AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens_raw FROM d GROUP BY source),
      |b AS (SELECT CAST(min(tokens_kept) AS BIGINT) AS t_budget FROM kept)
      |SELECT source, tokens_raw, tokens_kept,
      |       tokens_raw - tokens_kept AS tokens_deduped_away,
      |       t_budget,
      |       tokens_kept - t_budget AS surplus_tokens,
      |       t_budget * 1000000 // tokens_kept AS utilization_ppm
      |FROM raw JOIN kept USING (source) CROSS JOIN b
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------------
  // Curriculum ordering — global training order without a global sort
  // ---------------------------------------------------------------------------

  /** Curriculum training order: documents serve easy→hard (short→long, bucket
    * = n_chars div 512) with a DETERMINISTIC md5 shuffle inside each bucket
    * (so every difficulty band is consumed in unbiased random order and the
    * ordering replays bit-identically on retry — same salt-hash membership
    * discipline as [[sampleStratified]]).
    *
    * The global position is computed WITHOUT a global sort: per-bucket
    * row_number (bucket-partitioned window, fully parallel) + a broadcast
    * prefix-offset relation (bucket-count-bounded, built with the constant-pid
    * tiny-window idiom). At 100 TB the expensive pass is embarrassingly
    * parallel per bucket and only the ~200-row offset table crosses the
    * driver; an `ORDER BY` curriculum would instead range-shuffle the corpus.
    */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      expr("n_chars div 512").as("bucket"),
      md5(concat(lit("curr|"), col("doc_id").cast("string"))).as("h"))
    val sizes = d.groupBy("bucket").agg(count(lit(1)).as("c"))
      .repartition(1).withColumn("pid", spark_partition_id())
    val offs = sizes.withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("pid")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket"), (col("cum") - col("c")).as("off"))
    val wb = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
    d.withColumn("rn", row_number().over(wb))
      .join(broadcast(offs), "bucket")
      .select(col("doc_id"), col("bucket"),
        (col("off") + col("rn")).cast("long").as("position"))
  }

  private val curriculumOrderSql =
    """SELECT doc_id, n_chars // 512 AS bucket,
      |       CAST(row_number() OVER (
      |         ORDER BY n_chars // 512,
      |                  md5('curr|' || CAST(doc_id AS VARCHAR)),
      |                  doc_id) AS BIGINT) AS position
      |FROM documents""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("curriculum_order", curriculumOrder, Some(curriculumOrderSql)),
    Q("token_budget_plan", tokenBudgetPlan, Some(tokenBudgetPlanSql)),
    Q("corpus_admission", corpusAdmission, Some(corpusAdmissionSql)),
    Q("dataset_card", datasetCard, Some(datasetCardSql)),
    Q("synth_bootstrap_audit", synthBootstrapAudit, Some(synthBootstrapAuditSql)),
    Q("dsir_select", dsirSelect, Some(dsirSelectSql)),
    Q("temperature_mixture", temperatureMixture, Some(temperatureMixtureSql)),
    Q("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    Q("sample_per_stratum", samplePerStratum, Some(samplePerStratumSql)),
    Q("pack_sequences", packSequences, Some(packSequencesSql)),
    Q("pipeline_train_ready", trainReady, Some(trainReadySql)),
    Q("pipeline_clean_corpus", cleanCorpus, Some(cleanCorpusSql)),
    Q("pipeline_rag_corpus", ragCorpus, Some(ragCorpusSql)),
    Q("weighted_sample", weightedSample, Some(weightedSampleSql)),
    Q("token_length_quantiles", tokenLengthQuantiles, Some(tokenLengthQuantilesSql)),
    Q("decontaminate_eval", decontaminate, Some(decontaminateSql)),
    Q("chunk_docs", chunkStats, Some(chunkStatsSql)),
    Q("chunk_cdc", chunkCdc, Some(chunkCdcSql)),
    Q("split_train_eval", splitTrainEval, Some(splitTrainEvalSql)),
    Q("split_balance_audit", splitBalanceAudit, Some(splitBalanceAuditSql)),
    Q("epoch_shuffle", epochShuffle, Some(epochShuffleSql)),
    Q("text_normalize", textNormalize, Some(textNormalizeSql)))
}
