package graft.llm

import graft.{Localize, Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table: token stats, heuristic language ID, quality scoring and
  * document fingerprinting (rolling hash). The reference pipeline stores text
  * only as opaque JSON payloads (SURVEY.md §1.3); these are the north-star
  * extension ops (SURVEY.md §2.6).
  *
  * Scale notes (100 TB posture): every operator is a narrow per-row projection
  * (tokenize/score/hash inside whole-stage codegen) followed by at most one
  * aggregation keyed by a low-cardinality column (`lang`/`source`) — one
  * shuffle, map-side partial aggregation, no UDFs, no driver-side state.
  *
  * Determinism notes: ratios are computed in double and rounded to 6 decimals;
  * token order inside a document is preserved by `split`, so rolling hashes
  * are bit-stable across engines.
  */
/** [[TextStats.heavyHitters]] aggregation state: k parallel (token, count)
  * slots, null key = free slot. Top-level (public bytecode) so Spark codegen
  * can construct it.
  */
final case class MgBuf(keys: Array[String], counts: Array[Long])

object TextStats extends QueryPack {

  /** Whitespace run, spelled as an explicit character class instead of `\s`:
    * Java's `\s` is `[ \t\n\x0B\f\r]` but RE2's (DuckDB's regex engine) lacks
    * `\x0B`, so a document containing a vertical tab would tokenize
    * differently per engine and flip the dtype-strict hash gate. The escape
    * sequences below parse identically in Java regex and RE2, so this ONE
    * string is the tokenizer in both — shared by every text/dedup operator
    * and its oracle SQL.
    */
  val WsRe: String = "[ \\t\\n\\x0B\\f\\r]+"

  /** whitespace tokens with empties dropped — canonical tokenizer shared by
    * every operator in this pack (and mirrored verbatim in the oracle SQL).
    */
  val tokensCol: Column = filter(split(trim(col("text")), WsRe), x => x =!= lit(""))

  private[llm] val tokensSql = s"list_filter(regexp_split_to_array(trim(text), '$WsRe'), x -> x <> '')"

  /** tiny English-stopword list used by quality scoring + language ID */
  val stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
  private val stopwordsSqlList = stopwords.mkString("['", "', '", "']")

  /** Corpus token statistics per language: doc count, token count, distinct
    * vocabulary, mean tokens/doc.
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs.select(col("lang"), col("doc_id"), explode(tokensCol).as("token"))
      .groupBy("lang")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_vocab"),
        // floor-1e6 of the shared double quotient — round(x, 6) is the
        // latent cross-engine half-up tie class (CLAUDE.md)
        floor(count(lit(1)) / countDistinct(col("doc_id")).cast("double") * lit(1e6))
          .as("avg_tokens_per_doc_e6"))
  }

  private val tokenStatsSql =
    s"""WITH t AS (
      |  SELECT lang, doc_id, unnest($tokensSql) AS token FROM documents)
      |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
      |       count(DISTINCT token) AS n_vocab,
      |       CAST(floor(count(*) / CAST(count(DISTINCT doc_id) AS DOUBLE) * 1000000) AS BIGINT) AS avg_tokens_per_doc_e6
      |FROM t GROUP BY lang""".stripMargin

  /** Per-document quality score: piecewise-linear blend of length, stopword
    * ratio and mean token length (all exactly representable in double, so the
    * score is engine-independent).
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs
      .select(col("doc_id"), col("source"), col("n_chars"), tokensCol.as("tokens"))
      .select(
        col("doc_id"), col("source"), col("n_chars"),
        size(col("tokens")).as("n_tokens"),
        expr("aggregate(tokens, 0L, (acc, x) -> acc + length(x))").as("token_chars"),
        expr(s"size(filter(tokens, t -> array_contains(array${stopwords.mkString("('", "', '", "')")}, t)))")
          .as("n_stop"))
      .select(
        col("doc_id"), col("source"),
        col("n_tokens"),
        // floor-1e6 integerization of every emitted double quotient —
        // round(x, 6) is the latent cross-engine half-up tie class. The
        // blend itself stays +,*,least on doubles (IEEE-identical per op in
        // both engines); only the EMITTED value is integerized.
        floor(col("token_chars") / col("n_tokens").cast("double") * lit(1e6))
          .as("avg_token_len_e6"),
        floor(col("n_stop") / col("n_tokens").cast("double") * lit(1e6))
          .as("stopword_ratio_e6"),
        floor((
          least(col("n_tokens") / lit(200.0), lit(1.0)) * lit(0.5) +
            least(col("n_stop") / col("n_tokens").cast("double") * lit(10.0), lit(1.0)) * lit(0.3) +
            when((col("token_chars") / col("n_tokens").cast("double")).between(3.0, 8.0), lit(0.2))
              .otherwise(lit(0.0))) * lit(1e6)).as("quality_e6"))
  }

  private val qualityScoreSql =
    s"""WITH t AS (
      |  SELECT doc_id, source, n_chars, $tokensSql AS tokens FROM documents),
      |m AS (
      |  SELECT doc_id, source, len(tokens) AS n_tokens,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(tokens, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS token_chars,
      |         len(list_filter(tokens, t -> list_contains($stopwordsSqlList, t))) AS n_stop
      |  FROM t)
      |SELECT doc_id, source, n_tokens,
      |       CAST(floor(token_chars / CAST(n_tokens AS DOUBLE) * 1000000) AS BIGINT) AS avg_token_len_e6,
      |       CAST(floor(n_stop / CAST(n_tokens AS DOUBLE) * 1000000) AS BIGINT) AS stopword_ratio_e6,
      |       CAST(floor((least(n_tokens / 200, 1) * (1 / 2)
      |           + least(n_stop / CAST(n_tokens AS DOUBLE) * 10, 1) * (3 / 10)
      |           + CASE WHEN token_chars / CAST(n_tokens AS DOUBLE) BETWEEN 3 AND 8
      |                  THEN 1 / 5 ELSE 0 END) * 1000000) AS BIGINT) AS quality_e6
      |FROM m""".stripMargin

  /** Heuristic n-gram language ID (stopword-hit ratio) scored against the
    * labelled `lang` column → confusion counts.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs
      .select(col("lang"), col("doc_id"), tokensCol.as("tokens"))
      .select(
        col("lang"),
        (expr(s"size(filter(tokens, t -> array_contains(array${stopwords.mkString("('", "', '", "')")}, t)))") /
          greatest(size(col("tokens")), lit(1)).cast("double")).as("en_ratio"))
      .select(col("lang"), when(col("en_ratio") >= 0.05, lit("en")).otherwise(lit("other")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"))
  }

  private val langIdSql =
    s"""WITH t AS (
      |  SELECT lang, $tokensSql AS tokens FROM documents),
      |p AS (
      |  SELECT lang,
      |         len(list_filter(tokens, t -> list_contains($stopwordsSqlList, t)))
      |           / CAST(greatest(len(tokens), 1) AS DOUBLE) AS en_ratio
      |  FROM t)
      |SELECT lang, CASE WHEN en_ratio >= 0.05 THEN 'en' ELSE 'other' END AS predicted,
      |       count(*) AS n_docs
      |FROM p GROUP BY 1, 2""".stripMargin

  /** Per-document fingerprint: polynomial rolling hash over the code-point
    * stream (mod 1e9+7 — intermediate values stay < 2^63, so the fold is
    * overflow-free in both engines) plus the md5 content hash. Dup detection
    * across engines reduces to comparing these two columns.
    *
    * The hash runs as the native codegen expression
    * [[org.apache.spark.sql.graftx.RollingHash]] — the HOF formulation
    * (`aggregate(split(text,''), 0L, (h,c) -> ...)`) allocates a
    * per-character array and evaluates the lambda interpreted
    * (CodegenFallback); the expression folds code points straight off the
    * UTF-8 bytes inside the generated stage (same fold as the oracle's
    * `list_reduce`, pinned byte-for-byte by the hash gate).
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs.select(
      col("doc_id"),
      org.apache.spark.sql.graftx.RollingHash(col("text")).as("rolling_hash"),
      md5(col("text").cast("binary")).as("md5_hash"))
  }

  private val fingerprintSql =
    """SELECT doc_id,
      |       list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
      |         (h, c) -> (h * 131 + c) % 1000000007) AS rolling_hash,
      |       md5(text) AS md5_hash
      |FROM documents""".stripMargin

  /** BPE-ish subword pre-tokenization: the GPT-2-style split into letter
    * runs / digit runs / punctuation runs (the regex pass every byte-pair
    * tokenizer applies before merges). Token-count ratios vs whitespace
    * tokens approximate tokens-per-word — the standard budget metric for an
    * LLM data pipeline. The whitespace class is spelled explicitly (see
    * [[WsRe]] — Java `\s` ⊋ RE2 `\s`) so Spark and DuckDB extract the same
    * runs even on `\x0B`, and the SAME string is interpolated into the
    * oracle SQL.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+"

  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs
      .select(
        col("lang"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe"),
        size(tokensCol).as("n_ws"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("sum_bpe_tokens"),
        sum(col("n_ws")).as("sum_ws_tokens"),
        (sum(col("n_bpe")).cast("double") / sum(col("n_ws"))).as("bpe_per_word"))
  }

  private val bpeTokensSql =
    s"""WITH t AS (
      |  SELECT lang,
      |         len(regexp_extract_all(text, '$BpePattern')) AS n_bpe,
      |         len($tokensSql) AS n_ws
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_bpe) AS BIGINT) AS sum_bpe_tokens,
      |       CAST(sum(n_ws) AS BIGINT) AS sum_ws_tokens,
      |       CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws) AS bpe_per_word
      |FROM t GROUP BY lang""".stripMargin

  /** BM25 parameter k1; the idf is the RATIONAL Robertson form
    * (N - df + 0.5)/(df + 0.5) rather than its logarithm: log differs in the
    * last ulp between libm implementations, while +,-,*,/ on doubles are
    * IEEE-exact in every engine — so scores (and the ranking) are
    * bit-identical in Spark and DuckDB with no rounding games.
    */
  val Bm25K1 = 1.2
  val TopTerms = 3

  /** Per-document top-[[TopTerms]] terms by BM25-lite score (saturating tf ×
    * rational idf), ties → term ascending. The tf/df relations are two hash
    * aggregates off one tokenize pass; N arrives as a broadcast 1-row
    * aggregate (never `.collect()`ed); ranking is a per-doc window over at
    * most |distinct terms in doc| rows.
    */
  def bm25Top(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(tokensCol).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nRel = docs.agg(count(lit(1)).as("n_total"))
    // constants spelled as int/int divisions (11/5 = k1+1, 6/5 = k1,
    // 1/2 = 0.5): one correctly-rounded double division in BOTH engines,
    // where a decimal literal would run DuckDB's DECIMAL arithmetic
    // (CLAUDE.md) — keeps every score a bit-identical double chain
    val score =
      (col("tf") * (lit(11) / lit(5)) / (col("tf") + lit(6) / lit(5))) *
        ((col("n_total") - col("df") + lit(1) / lit(2)) / (col("df") + lit(1) / lit(2)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfRel, "term")
      .crossJoin(broadcast(nRel))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopTerms)
      .select(col("doc_id"), col("term"), col("rank"),
        // floor-1e6 fixed point of the bit-identical rational score —
        // round(x, 6) was the latent cross-engine half-up tie class
        floor(col("score") * lit(1000000)).cast("long").as("bm25_e6"))
  }

  private val bm25TopSql =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest($tokensSql) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_total FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |         (tf * (11 / 5) / (tf + 6 / 5))
      |           * ((n_total - df + 1 / 2) / (df + 1 / 2)) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, term, rank, CAST(floor(score * 1000000) AS BIGINT) AS bm25_e6
      |FROM ranked WHERE rank <= $TopTerms""".stripMargin

  /** Corpus vocabulary induction: the [[VocabSize]] most frequent tokens
    * (ties → token ascending) with document frequencies — the first step of
    * building a tokenizer vocabulary. One tokenize pass, one (term) hash
    * aggregate, then a distributed TakeOrdered — no single-partition window.
    */
  val VocabSize = 100

  def vocabTopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs.select(col("doc_id"), explode(tokensCol).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(VocabSize)
  }

  private val vocabTopKSql =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest($tokensSql) AS term FROM documents)
      |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM toks GROUP BY term
      |ORDER BY tf DESC, term LIMIT $VocabSize""".stripMargin

  /** largest rank probed by [[zipfProfile]] */
  val ZipfMaxRank = 512

  /** Zipf rank-frequency profile of the corpus vocabulary: term frequency
    * at probe ranks 1, 2, 4, …, [[ZipfMaxRank]] plus the halving ratio
    * tf(2r)/tf(r) as integer ppm — for an ideal Zipf (exponent 1) every
    * ratio is ~500000, so the profile reads the exponent WITHOUT the
    * log-log regression whose libm calls never replay cross-engine
    * (CLAUDE.md's rational-form rule). Ranks come from a
    * vocabulary-bounded single-partition window with full (tf, term) tie
    * ordering. The corpus-health check a tokenizer/dedup pipeline reads
    * before trusting frequency-based heuristics.
    *
    * 100 TB shape: one tokenize pass to the vocabulary-sized count
    * relation; the rank window and probe joins are vocabulary-scale.
    */
  def zipfProfile(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.loadSpread(s, dir, "documents")
      .select(explode(tokensCol).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    // only the top 2·ZipfMaxRank terms matter: a TakeOrdered cut (orderBy +
    // limit plans no global sort — K×partitions to the driver) replaces the
    // former single-partition window over the VOCABULARY-scaled relation;
    // the rank window then runs on the constant-size cut
    val ranked = counts.orderBy(col("tf").desc, col("term"))
      .limit(2 * ZipfMaxRank)
      .repartition(1).withColumn("pid", spark_partition_id())
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
          .orderBy(col("tf").desc, col("term"))).cast("long"))
      .select(col("rank"), col("term"), col("tf"))
    val probes = s.createDataFrame(
      Iterator.iterate(1L)(_ * 2).takeWhile(_ <= ZipfMaxRank).map(Tuple1(_)).toSeq)
      .toDF("rank")
    val twice = ranked.select(col("rank").as("rank2"), col("tf").as("tf2x"))
    probes.join(ranked, Seq("rank"))
      .join(twice, col("rank2") === col("rank") * 2)
      .select(col("rank"), col("term"), col("tf"), col("tf2x"),
        expr("tf2x * 1000000 div tf").as("halving_ppm"))
      .orderBy(col("rank"))
  }

  private val zipfProfileSql =
    s"""WITH toks AS (SELECT unnest($tokensSql) AS term FROM documents),
      |counts AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1),
      |ranked AS (
      |  SELECT CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS rank,
      |         term, tf
      |  FROM counts),
      |probes AS (SELECT CAST(r AS BIGINT) AS rank FROM (VALUES ${Iterator
        .iterate(1L)(_ * 2).takeWhile(_ <= ZipfMaxRank).map("(" + _ + ")")
        .mkString(", ")}) AS t(r))
      |SELECT p.rank, a.term, a.tf, b.tf AS tf2x,
      |       b.tf * 1000000 // a.tf AS halving_ppm
      |FROM probes p
      |JOIN ranked a ON a.rank = p.rank
      |JOIN ranked b ON b.rank = p.rank * 2
      |ORDER BY p.rank""".stripMargin

  /** Flesch-Kincaid readability grade per document, fully integerized:
    * words from the shared tokenizer, sentences = [.!?]+ runs (min 1),
    * syllables = vowel-group count per lowercased token (min 1 per word —
    * the standard heuristic). The grade
    *
    *   0.39·(W/S) + 11.8·(Y/W) − 15.59
    *
    * spells its weights as int/int divisions (39/100 etc. — a decimal
    * literal would parse as DECIMAL in DuckDB, CLAUDE.md's model-weight
    * rule) over exact integer counts, fixed op order, floor-milli. Regexes
    * stay in the Java∩RE2 dialect (explicit classes, no shorthand).
    *
    * 100 TB shape: tokenize + count are map-side; one (doc) aggregate.
    */
  def textReadability(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val sent = docs.select(col("doc_id"),
      greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
        .cast("long").as("sents"))
    val syl = docs.select(col("doc_id"), explode(tokensCol).as("tok"))
      .select(col("doc_id"),
        greatest(size(expr("regexp_extract_all(lower(tok), '[aeiouy]+', 0)")), lit(1))
          .cast("long").as("y"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("words"), sum(col("y")).as("sylls"))
      .filter(col("words") > 0)
    syl.join(sent, Seq("doc_id"))
      .select(col("doc_id"), col("words"), col("sents"), col("sylls"),
        expr("""CAST(floor((
               |  (CAST(39 AS DOUBLE) / 100) * (CAST(words AS DOUBLE) / sents)
               |  + (CAST(118 AS DOUBLE) / 10) * (CAST(sylls AS DOUBLE) / words)
               |  - CAST(1559 AS DOUBLE) / 100) * 1000) AS BIGINT)"""
          .stripMargin).as("fk_milli"))
  }

  private val textReadabilitySql =
    s"""WITH sent AS (
      |  SELECT doc_id,
      |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sents
      |  FROM documents),
      |syl AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS words,
      |         CAST(sum(greatest(len(regexp_extract_all(lower(tok), '[aeiouy]+')), 1)) AS BIGINT) AS sylls
      |  FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
      |  GROUP BY 1 HAVING count(*) > 0)
      |SELECT doc_id, words, sents, sylls,
      |       CAST(floor((
      |         (CAST(39 AS DOUBLE) / 100) * (CAST(words AS DOUBLE) / sents)
      |         + (CAST(118 AS DOUBLE) / 10) * (CAST(sylls AS DOUBLE) / words)
      |         - CAST(1559 AS DOUBLE) / 100) * 1000) AS BIGINT) AS fk_milli
      |FROM syl JOIN sent USING (doc_id)""".stripMargin

  /** keyphrases reported by [[rakeKeyphrases]] */
  val RakeTopK = 25

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are the
    * maximal stopword-free token runs (gaps-and-islands: island id =
    * position − row_number over the per-doc non-stopword order — one window,
    * no self-join); each word scores `degree/freq` where `freq` counts its
    * occurrences inside phrases and `degree` sums the lengths of the
    * phrases it appears in (co-occurrence degree, RAKE's definition); a
    * phrase scores the sum of its words' scores. All arithmetic integer:
    * word scores are `floor(degree·1e6 / freq)` by integer division, phrase
    * scores exact sums of those — no float summation anywhere, so the full
    * extraction hash-gates cross-engine. Shuffles: per-doc tokenize →
    * (doc) window, one (word) aggregate (vocabulary-sized), a broadcast
    * word-score join back, and a distributed TakeOrdered cut.
    */
  def rakeKeyphrases(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), posexplode(tokensCol).as(Seq("i", "w")))
      .where(!col("w").isInCollection(stopwords))
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
    val member = toks
      .withColumn("run_id", col("i") - row_number().over(wDoc))
      .withColumn("plen", count(lit(1))
        .over(Window.partitionBy("doc_id", "run_id")))
    val wordScore = member.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .select(col("w"), expr("degree * 1000000 div freq").as("w_score_e6"))
    val phrases = member.join(broadcast(wordScore), "w")
      .groupBy("doc_id", "run_id")
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(struct(i, w))), x -> x.w)"),
          " ").as("phrase"),
        sum(col("w_score_e6")).as("score_e6"),
        count(lit(1)).as("n_words"))
      .where(col("n_words") >= 2) // single words are vocab_topk's job
    phrases.groupBy("phrase")
      .agg(max(col("score_e6")).as("score_e6"), count(lit(1)).as("n_occurrences"))
      .orderBy(col("score_e6").desc, col("phrase"))
      .limit(RakeTopK)
  }

  private val rakeKeyphrasesSql =
    s"""WITH t AS (
      |  SELECT doc_id, $tokensSql AS toks FROM documents),
      |tok AS (
      |  SELECT doc_id, i - 1 AS i, toks[i] AS w
      |  FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
      |  WHERE NOT list_contains($stopwordsSqlList, toks[i])),
      |member AS (
      |  SELECT doc_id, i, w,
      |         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS run_id
      |  FROM tok),
      |ml AS (
      |  SELECT *, count(*) OVER (PARTITION BY doc_id, run_id) AS plen
      |  FROM member),
      |ws AS (
      |  SELECT w, (CAST(sum(plen) AS BIGINT) * 1000000) // count(*) AS w_score_e6
      |  FROM ml GROUP BY w),
      |ph AS (
      |  SELECT ml.doc_id, ml.run_id,
      |         string_agg(ml.w, ' ' ORDER BY ml.i) AS phrase,
      |         CAST(sum(ws.w_score_e6) AS BIGINT) AS score_e6,
      |         count(*) AS n_words
      |  FROM ml JOIN ws USING (w)
      |  GROUP BY ml.doc_id, ml.run_id
      |  HAVING count(*) >= 2)
      |SELECT phrase, CAST(max(score_e6) AS BIGINT) AS score_e6,
      |       count(*) AS n_occurrences
      |FROM ph GROUP BY phrase
      |ORDER BY score_e6 DESC, phrase
      |LIMIT $RakeTopK""".stripMargin

  /** adjacent-token bigrams, duplicates kept (counts weight the merges) */
  private val bigramsUdf = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val toks = text.trim.split(WsRe).filter(_.nonEmpty)
      if (toks.length < 2) Array.empty[String]
      else Array.tabulate(toks.length - 1)(i => toks(i) + " " + toks(i + 1))
    }
  }

  /** Collocation extraction — the scoring pass of a BPE/wordpiece merge
    * step: adjacent-pair frequencies plus LIFT `p(ab)/(p(a)p(b)) =
    * (c_ab·N)/(c_a·c_b)` as the association strength. Lift, not PMI: the
    * log differs in the last ulp across libm implementations while this is
    * one exact-integer product ratio (c_ab·N < 2^63 up to ~3·10^9-token
    * corpora per partition-group; the driver-scale corpus is far below).
    * Two tokenize-free aggregations off one pass each (pair counts, unigram
    * counts), unigram counts broadcast into the pair relation, distributed
    * TakeOrdered for the top slice.
    */
  val CollocMinCount = 5
  val CollocTopK = 50

  def collocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val pairCounts = docs.select(explode(bigramsUdf(col("text"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c_pair"))
      .where(col("c_pair") >= CollocMinCount)
    val toks = docs.select(explode(tokensCol).as("token"))
    val tokCounts = toks.groupBy("token").agg(count(lit(1)).as("c_tok"))
    val nTotal = toks.agg(count(lit(1)).as("n_tokens"))
    pairCounts
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .withColumn("w2", split(col("pair"), " ").getItem(1))
      .join(tokCounts.select(col("token").as("w1"), col("c_tok").as("c1")), "w1")
      .join(tokCounts.select(col("token").as("w2"), col("c_tok").as("c2")), "w2")
      .crossJoin(broadcast(nTotal))
      .select(
        col("pair"), col("c_pair"),
        ((col("c_pair") * col("n_tokens")).cast("double") /
          (col("c1") * col("c2")).cast("double")).as("lift"))
      .orderBy(col("c_pair").desc, col("pair"))
      .limit(CollocTopK)
  }

  private val collocationsSql =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
      |pairs AS (
      |  SELECT unnest(CASE WHEN len(toks) >= 2
      |    THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
      |    ELSE [] END) AS pair
      |  FROM t),
      |pc AS (SELECT pair, count(*) AS c_pair FROM pairs GROUP BY pair
      |       HAVING count(*) >= $CollocMinCount),
      |tok AS (SELECT unnest(toks) AS token FROM t),
      |tc AS (SELECT token, count(*) AS c_tok FROM tok GROUP BY token),
      |n AS (SELECT count(*) AS n_tokens FROM tok)
      |SELECT pair, c_pair,
      |       CAST(c_pair * n_tokens AS DOUBLE)
      |         / CAST(c1.c_tok * c2.c_tok AS DOUBLE) AS lift
      |FROM pc
      |JOIN tc c1 ON split_part(pair, ' ', 1) = c1.token
      |JOIN tc c2 ON split_part(pair, ' ', 2) = c2.token
      |CROSS JOIN n
      |ORDER BY c_pair DESC, pair LIMIT $CollocTopK""".stripMargin

  /** Per-document repetition metrics (Gopher-style quality filter): token
    * count, distinct tokens, the modal token's count, and the duplicate-token
    * fraction (n_tokens − n_distinct)/n_tokens — high values flag the
    * degenerate boilerplate/spam documents a pretraining corpus drops. All
    * counts are exact integers off one tokenize pass + one (doc, token)
    * hash aggregate; the fraction is a single exact-integer division.
    * `is_repetitive` applies the published Gopher-ish cut (dup fraction
    * > 0.3 or modal token > 20% of the document).
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs.select(col("doc_id"), explode(tokensCol).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_token_n"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_token_n"),
        ((col("n_tokens") - col("n_distinct")).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"),
        (((col("n_tokens") - col("n_distinct")).cast("double") /
          col("n_tokens").cast("double")) > 0.3 ||
          col("top_token_n").cast("double") / col("n_tokens").cast("double") > 0.2)
          .as("is_repetitive"))
  }

  private val repetitionSql =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
      |per AS (
      |  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2)
      |SELECT doc_id,
      |       CAST(sum(c) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_distinct,
      |       CAST(max(c) AS BIGINT) AS top_token_n,
      |       CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_frac,
      |       (CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) > 0.3
      |        OR CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) > 0.2) AS is_repetitive
      |FROM per GROUP BY doc_id""".stripMargin

  /** Misra-Gries heavy-hitters sketch, k entries: a bounded-memory mergeable
    * summary answering "which tokens exceed n/(k+1) frequency" with one pass
    * and O(k) state — the streaming/distributed alternative to
    * [[vocabTopK]]'s exact count-then-TakeOrdered when the vocabulary itself
    * is too large to aggregate exactly. Guarantees (pinned in LlmSpec):
    * every token with true count > n/(k+1) is present, and each estimate is
    * an undercount by at most n/(k+1).
    *
    * Scale notes (100 TB posture): per-group state is 2k scalars regardless
    * of vocabulary size; partial sketches merge associatively (sum counts,
    * then subtract the (k+1)-th largest — the standard mergeable-MG rule,
    * Agarwal et al., "Mergeable Summaries"), so the plan is one map-side
    * partial agg + one k-row-per-group shuffle. No token-cardinality
    * shuffle ever happens — the contrast with vocabTopK is the point.
    */
  /** MG slot count: the exact heavy-hitter query emits tokens with support
    * > n/(MgK+1), so k must sit below the corpus's top-token share (~3.4%
    * at every SF) for the gate to be non-vacuous — 1/41 ≈ 2.4% clears ~30
    * tokens per language stratum.
    */
  private[graft] final val MgK = 40

  private[graft] object MgAgg
      extends org.apache.spark.sql.expressions.Aggregator[String, MgBuf, Seq[(String, Long)]] {
    def zero: MgBuf = MgBuf(new Array[String](MgK), new Array[Long](MgK))
    def reduce(b: MgBuf, token: String): MgBuf = {
      val keys = b.keys
      var i = 0
      var free = -1
      while (i < MgK) {
        if (keys(i) == token) { b.counts(i) += 1; return b }
        if (free < 0 && keys(i) == null) free = i
        i += 1
      }
      if (free >= 0) { keys(free) = token; b.counts(free) = 1; return b }
      // full and absent: decrement all, evict zeros (classic MG step)
      i = 0
      while (i < MgK) {
        b.counts(i) -= 1
        if (b.counts(i) == 0) keys(i) = null
        i += 1
      }
      b
    }
    def merge(x: MgBuf, y: MgBuf): MgBuf = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var i = 0
      while (i < MgK) {
        if (x.keys(i) != null) m.update(x.keys(i), m.getOrElse(x.keys(i), 0L) + x.counts(i))
        i += 1
      }
      i = 0
      while (i < MgK) {
        if (y.keys(i) != null) m.update(y.keys(i), m.getOrElse(y.keys(i), 0L) + y.counts(i))
        i += 1
      }
      val entries = m.toArray
      // subtract the (k+1)-th largest count so at most k survive
      val cut =
        if (entries.length <= MgK) 0L
        else entries.map(_._2).sorted(Ordering[Long].reverse)(MgK)
      val out = zero
      var j = 0
      entries.foreach { case (tok, c) =>
        if (c - cut > 0) { out.keys(j) = tok; out.counts(j) = c - cut; j += 1 }
      }
      out
    }
    def finish(b: MgBuf): Seq[(String, Long)] =
      b.keys.zip(b.counts).filter(_._1 != null)
        .sortBy { case (tok, c) => (-c, tok) }.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[MgBuf] =
      org.apache.spark.sql.Encoders.product[MgBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Long)]]()
  }
  private val mgSketch = udaf(MgAgg)

  /** Raw Misra-Gries candidates per language (one row per kept entry: lang,
    * token, est_count, and the stratum's exact token total so the n/(k+1)
    * guarantee is auditable downstream). The kept SET (not the guarantee)
    * can vary with partial-buffer merge order — inherent to MG:
    * mergeability (Agarwal et al.) proves the error bound for ANY merge
    * tree, not output equality — so this surface is pinned by the LlmSpec
    * law, while the ORACLE-GATED query is [[heavyHitters]] below.
    */
  def mgCandidates(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    docs.select(col("lang"), explode(tokensCol).as("token"))
      .groupBy("lang")
      .agg(mgSketch(col("token")).as("hh"), count(lit(1)).as("n_tokens"))
      .select(col("lang"), col("n_tokens"), explode(col("hh")).as("e"))
      .select(col("lang"), col("e._1").as("token"),
        col("e._2").as("est_count"), col("n_tokens"))
  }

  /** Heavy hitters per language, EXACT and oracle-gated, via the MG sketch:
    * the sketch produces ≤ [[MgK]] candidates per stratum — guaranteed to
    * contain every token with true count > n/(k+1) under any merge order —
    * then ONE candidate-restricted re-count (a broadcast semi-join, the
    * ppjoin/verify discipline) filters to the tokens that truly clear the
    * support threshold. The emitted set is therefore exactly the true
    * heavy-hitter set, independent of sketch merge order, so DuckDB can
    * replay it from first principles — turning the sketch query from
    * unoracled into a full rows+schema+hash gate that ALSO proves the MG
    * recall guarantee (a candidate set missing a frequent token would drop
    * an oracle row). 100 TB shape: the corpus is touched twice (sketch
    * pass, candidate-filtered count pass); candidates ≤ langs × k rows
    * broadcast; never a full (lang, token) aggregation.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val cand = mgCandidates(s, dir).select("lang", "token", "n_tokens")
    val docs = Tables.loadSpread(s, dir, "documents")
    docs.select(col("lang"), explode(tokensCol).as("token"))
      .join(broadcast(cand), Seq("lang", "token"))
      .groupBy("lang", "token", "n_tokens")
      .agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences") * lit(MgK + 1) > col("n_tokens"))
      .select(col("lang"), col("token"), col("n_occurrences"), col("n_tokens"))
  }

  private val heavyHittersSql =
    s"""WITH t AS (
      |  SELECT lang, unnest($tokensSql) AS token FROM documents),
      |n AS (SELECT lang, count(*) AS n_tokens FROM t GROUP BY lang),
      |c AS (SELECT lang, token, count(*) AS n_occurrences FROM t GROUP BY 1, 2)
      |SELECT c.lang, c.token, c.n_occurrences, n.n_tokens
      |FROM c JOIN n ON c.lang = n.lang
      |WHERE c.n_occurrences * ${MgK + 1} > n.n_tokens""".stripMargin

  /** tokenizer-coverage vocabulary size (top tokens by corpus frequency) */
  private final val CoverageVocabK = 15

  /** Tokenizer/vocabulary coverage: build the top-[[CoverageVocabK]] corpus
    * vocabulary (count desc, token asc — total order, so the vocab is
    * deterministic even at count ties) and measure each source's
    * out-of-vocabulary token rate — the fit check run before committing a
    * tokenizer to a corpus mix. The OOV rate is a raw double quotient
    * (deterministic; rounding would reintroduce tie divergence).
    *
    * Scale notes (100 TB posture): the vocab is a TakeOrdered over the
    * (token, count) relation — K rows to the driver, broadcast back; the
    * coverage pass is one map-side membership probe + a low-cardinality
    * aggregate. The token relation is cached across the two passes.
    */
  def tokenizerCoverage(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val toks = keep(Tables.loadSpread(s, dir, "documents")
      .select(col("source"), explode(tokensCol).as("token")))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(CoverageVocabK)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        (col("n_oov") / col("n_tokens").cast("double")).as("oov_rate"))
  }

  private val tokenizerCoverageSql =
    s"""WITH t AS (
      |  SELECT source, unnest($tokensSql) AS token FROM documents),
      |v AS (SELECT token FROM (
      |  SELECT token, count(*) AS c FROM t GROUP BY token
      |  ORDER BY c DESC, token LIMIT $CoverageVocabK))
      |SELECT source, count(*) AS n_tokens,
      |       CAST(count(*) FILTER (WHERE token NOT IN (SELECT token FROM v)) AS BIGINT) AS n_oov,
      |       count(*) FILTER (WHERE token NOT IN (SELECT token FROM v))
      |         / CAST(count(*) AS DOUBLE) AS oov_rate
      |FROM t GROUP BY source""".stripMargin

  /** CMS geometry: [[CmsDepth]] hash rows × [[CmsWidth]] counters. */
  private final val CmsDepth = 4
  private final val CmsWidth = 256

  /** Count-Min sketch frequency estimation per language — the mergeable
    * OVER-counting dual of the Misra-Gries UNDER-counting sketch above:
    * est(t) = min over rows r of cell[r][h_r(t)], with est ≥ true always and
    * est ≤ true + εn with high probability (Cormode & Muthukrishnan).
    *
    * Deterministic by construction, hence FULLY oracle-gated unlike MG: the
    * counter matrix is an elementwise SUM of per-token one-hot updates, so
    * it is independent of merge order (MG's kept set is not), and the four
    * hash rows are slices of one md5 (chars 1-8, 9-16, 17-24, 25-32 → four
    * independent 32-bit values, one hash computation per token) — the same
    * portable recipe both engines evaluate identically. A sketch whose
    * estimates the oracle reproduces bit-for-bit is a far stronger gate
    * than a tolerance test.
    *
    * Scale notes (100 TB posture): after the map-side partial aggregate the
    * shuffle carries at most depth×width rows per (lang, task) — constant in
    * vocabulary and corpus size, the same bound an Aggregator-state CMS
    * would give, but expressed as a plain codegen groupBy so Tungsten owns
    * the memory. Probes join the cell relation by (r, cell) — broadcast,
    * metadata-scale.
    */
  def cmsTokenFreq(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val toks = docs.select(col("lang"), explode(tokensCol).as("token"))
      .withColumn("h", md5(col("token").cast("binary")))
    // one (r, cell) pair per hash row per occurrence
    val cells = toks
      .select(col("lang"), posexplode(array((0 until CmsDepth).map(r =>
        Portable.hexInt(col("h"), 1 + 8 * r) % CmsWidth): _*))
        .as(Seq("r", "cell")))
      .groupBy("lang", "r", "cell").agg(count(lit(1)).as("n"))
    // probe the sketch for the stopword set in every language stratum
    val probes = docs.select(col("lang")).distinct()
      .crossJoin(
        docs.sparkSession.range(1).select(
          explode(array(stopwords.map(lit): _*)).as("token")))
      .withColumn("h", md5(col("token").cast("binary")))
      .select(col("lang"), col("token"), posexplode(array((0 until CmsDepth).map(r =>
        Portable.hexInt(col("h"), 1 + 8 * r) % CmsWidth): _*))
        .as(Seq("r", "cell")))
    val est = probes
      .join(cells, Seq("lang", "r", "cell"), "left")
      .groupBy("lang", "token")
      .agg(min(coalesce(col("n"), lit(0L))).as("est_count"))
    val exact = toks.where(col("token").isin(stopwords: _*))
      .groupBy("lang", "token").agg(count(lit(1)).as("true_count"))
    est.join(exact, Seq("lang", "token"), "left")
      .select(col("lang"), col("token"), col("est_count"),
        coalesce(col("true_count"), lit(0L)).as("true_count"))
  }

  private val cmsTokenFreqSql =
    s"""WITH t AS (
      |  SELECT lang, unnest($tokensSql) AS token FROM documents),
      |h AS (SELECT lang, token, md5(token) AS h FROM t),
      |cells AS (
      |  SELECT lang, r, ${Portable.hexIntSql("h", "1 + 8 * r")} % $CmsWidth AS cell,
      |         count(*) AS n
      |  FROM h, range(0, $CmsDepth) rr(r)
      |  GROUP BY 1, 2, 3),
      |probes AS (
      |  SELECT lang, token, r,
      |         ${Portable.hexIntSql("md5(token)", "1 + 8 * r")} % $CmsWidth AS cell
      |  FROM (SELECT DISTINCT lang FROM documents),
      |       (SELECT unnest($stopwordsSqlList) AS token),
      |       range(0, $CmsDepth) rr(r)),
      |est AS (
      |  SELECT p.lang, p.token, min(COALESCE(c.n, 0)) AS est_count
      |  FROM probes p LEFT JOIN cells c
      |    ON p.lang = c.lang AND p.r = c.r AND p.cell = c.cell
      |  GROUP BY 1, 2),
      |ex AS (
      |  SELECT lang, token, count(*) AS true_count FROM t
      |  WHERE token IN (SELECT unnest($stopwordsSqlList)) GROUP BY 1, 2)
      |SELECT est.lang, est.token, CAST(est.est_count AS BIGINT) AS est_count,
      |       CAST(COALESCE(ex.true_count, 0) AS BIGINT) AS true_count
      |FROM est LEFT JOIN ex ON est.lang = ex.lang AND est.token = ex.token""".stripMargin

  /** Statistical language-model fluency scoring — the n-gram LM quality
    * signal of a pretraining pipeline (the classifier-free cousin of
    * [[Governance.qualityModelFilter]]): train bigram/unigram counts ON the
    * corpus itself, then score each document by its average bigram
    * likelihood under that model. High scores = text whose token
    * transitions are corpus-typical; gibberish and boilerplate fall out the
    * bottom.
    *
    * Determinism: each bigram occurrence contributes
    * floor(1000 · c₂(a,b) / c₁(a)) — ONE correctly-rounded double division
    * then an exact integer floor — so the per-doc and per-source SUMS are
    * integer arithmetic, immune to distributed addition order (a raw double
    * sum over shuffled rows is not reproducible; a log-prob sum would also
    * hit libm). The oracle reproduces the model and the scoring verbatim.
    *
    * Scale notes (100 TB posture): the model is two hash aggregates (bigram
    * and unigram counts — vocabulary-scale, the same shuffle class as
    * [[vocabTopK]]); scoring joins each bigram occurrence to its two counts
    * by key. At web scale the counts relation is pruned to df ≥ k first —
    * the join shape is unchanged.
    */
  def lmFluency(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), col("source"), posexplode(tokensCol).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = toks
      .withColumn("nxt", lead("tok", 1).over(w))
      .where(col("nxt").isNotNull)
      .select(col("doc_id"), col("source"), col("tok").as("a"), col("nxt").as("b"))
    val c2 = bigrams.groupBy("a", "b").agg(count(lit(1)).as("c2"))
    val c1 = toks.groupBy(col("tok").as("a")).agg(count(lit(1)).as("c1"))
    bigrams
      .join(c2, Seq("a", "b"))
      .join(c1, Seq("a"))
      .select(col("source"),
        floor(lit(1000) * col("c2") / col("c1")).as("term_millis"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("term_millis")).as("fluency_millis"))
  }

  private val lmFluencySql =
    s"""WITH t AS (
      |  SELECT doc_id, source, unnest($tokensSql) AS tok,
      |         generate_subscripts($tokensSql, 1) AS pos
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, source, tok AS a,
      |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      |  FROM t QUALIFY b IS NOT NULL),
      |c2 AS (SELECT a, b, count(*) AS c2 FROM big GROUP BY a, b),
      |c1 AS (SELECT tok AS a, count(*) AS c1 FROM t GROUP BY tok)
      |SELECT big.source, count(*) AS n_bigrams,
      |       CAST(sum(CAST(floor(1000 * c2.c2 / c1.c1) AS BIGINT)) AS BIGINT) AS fluency_millis
      |FROM big JOIN c2 ON big.a = c2.a AND big.b = c2.b
      |         JOIN c1 ON big.a = c1.a
      |GROUP BY big.source""".stripMargin

  // ---------------------------------------------------------------------------
  // Persisted inverted text index (term-bucketed posting lists)
  // ---------------------------------------------------------------------------

  /** term-bucket fan-out of the persisted index */
  val IndexBuckets = 16

  /** bucket of a term — engine-internal (the SAME function routes writes and
    * lookups, so it needs determinism, not cross-engine portability)
    */
  private def termBucket(term: Column): Column =
    pmod(xxhash64(term), lit(IndexBuckets))

  /** Build the persisted inverted index: one posting row per (term, doc)
    * with its term frequency, written as parquet PARTITIONED BY the term's
    * hash bucket. A query-time term lookup then reads exactly one partition
    * directory — O(postings/buckets) I/O, the search-engine shard discipline
    * (same componentization as [[graft.llm.Similarity.writeIvfIndex]]).
    * Repartitioning on the bucket before the write keeps it one file per
    * partition dir instead of a per-task small-file spray.
    */
  def writeTextIndex(docs: DataFrame, path: String): Unit =
    docs.select(col("doc_id"), explode(tokensCol).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(col("term")))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** posting list for one term off the persisted index — the `where bucket =`
    * predicate is partition pruning (one directory scanned), the term
    * equality filters within it; erased docs ([[eraseFromTextIndex]] /
    * [[propagateTextErasures]]) are subtracted merge-on-read, so the
    * right to be forgotten holds without rewriting posting files
    */
  def termLookup(s: SparkSession, path: String, term: String): DataFrame = {
    val b = java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L),
      IndexBuckets.toLong)
    Erasure.subtract(s, path, "doc_id")(
      s.read.parquet(path)
        .where(col("bucket") === lit(b) && col("term") === lit(term))
        .select(col("term"), col("doc_id"), col("tf")))
  }

  /** direct GDPR erasure of docs from the persisted inverted index —
    * tombstone sidecar append, posting files untouched ([[Erasure.erase]])
    */
  def eraseFromTextIndex(s: SparkSession, path: String, docIds: DataFrame,
      ver: Long = Long.MaxValue): Unit =
    Erasure.erase(s, path, docIds, "doc_id", ver)

  /** propagate the docs table's deletes into the persisted inverted index
    * through the table-log change feed — [[Erasure.propagate]]'s net-effect
    * / resurrection / exactly-once laws, applied to posting lists
    */
  def propagateTextErasures(
      s: SparkSession, docsTable: String, indexPath: String,
      cursorFile: String): Option[(Long, Long)] =
    Erasure.propagate(s, docsTable, indexPath, cursorFile, "doc_id")

  private val textIndexed = graft.Scratch.fixture[String]("graft_tindex")

  /** Index build + multi-term lookup, end to end: the engine REALLY writes
    * the bucketed index once per data dir (memoized — construction stays
    * read-only after the first materialization, the gridCandles discipline)
    * and answers each probe term from its single bucket; the oracle
    * recomputes the postings from `documents` directly, so a routing bug
    * (lookup bucket ≠ write bucket) surfaces as missing rows, not silence.
    */
  def textIndexLookup(s: SparkSession, dir: String): DataFrame = {
    val path = textIndexed(dir) { p =>
      writeTextIndex(graft.Tables.loadSpread(s, dir, "documents"), p)
      p
    }
    Seq("table", "spark", "window")
      .map(t => termLookup(s, path, t))
      .reduce(_ unionByName _)
      .groupBy("term")
      .agg(count(lit(1)).as("n_docs"), sum("tf").as("sum_tf"))
  }

  private val textIndexLookupSql =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |         unnest(list_filter(regexp_split_to_array(trim(text), '$WsRe'), x -> x <> '')) AS term
      |  FROM documents),
      |p AS (
      |  SELECT term, doc_id, count(*) AS tf FROM toks
      |  WHERE term IN ('table', 'spark', 'window')
      |  GROUP BY 1, 2)
      |SELECT term, count(*) AS n_docs, CAST(sum(tf) AS BIGINT) AS sum_tf
      |FROM p GROUP BY term""".stripMargin

  // ---------------------------------------------------------------------------
  // BPE tokenizer TRAINING (oracle-replayed merge trajectory)
  // ---------------------------------------------------------------------------

  /** [[bpeTrain]] merge rounds */
  val BpeRounds = 10

  /** word → delimited symbol string: `table` → `@@t@@a@@b@@l@@e@@`.
    *
    * The DOUBLE delimiter is what makes literal string-replace equal to
    * canonical greedy left-to-right BPE merging in both engines: the merge
    * pattern `@x@@y@` takes one `@` from each side, so back-to-back
    * occurrences (`x y x y`) each keep a boundary `@` and BOTH merge —
    * a single-delimiter encoding consumes the shared boundary and silently
    * skips every second occurrence — while an overlapping chain (`a a a`
    * merging `a a`) correctly merges only the first pair. Both engines'
    * `replace` scan left-to-right non-overlapping, so the two replays agree
    * merge-for-merge.
    */
  private val initSymUdf = udf { w: String =>
    "@@" + w.map(_.toString).mkString("@@") + "@@"
  }

  /** adjacent symbol pairs of a delimited symbol string, as `"x y"` keys */
  private val symPairsUdf = udf { sym: String =>
    val l = sym.split("@@").filter(_.nonEmpty)
    if (l.length < 2) Array.empty[String]
    else (0 until l.length - 1).map(i => l(i) + " " + l(i + 1)).toArray
  }

  private val symCountUdf = udf { sym: String =>
    sym.split("@@").count(_.nonEmpty).toLong
  }

  /** apply merge `"x y"` → symbol `xy` (Java `String.replace` is literal,
    * all-occurrence, left-to-right — the same semantics as DuckDB `replace`)
    */
  private val applyMergeUdf = udf { (sym: String, pair: String) =>
    val sp = pair.indexOf(' ')
    val x  = pair.substring(0, sp); val y = pair.substring(sp + 1)
    sym.replace("@" + x + "@@" + y + "@", "@" + x + y + "@")
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) as a distributed job with
    * the whole merge trajectory hash-gated: [[BpeRounds]] rounds of (count
    * adjacent symbol pairs weighted by word frequency → pick the most
    * frequent pair, ties to the lexicographically first → merge it in every
    * word). Output: one row per round — the learned merge, its count, and
    * the weighted corpus symbol count after the merge (a whole-state
    * checksum, so a single diverged merge anywhere fails the gate).
    *
    * Spark-first shape, and the 100 TB one: the corpus is touched ONCE to
    * build the word-frequency relation (Heap's law makes it vocabulary-
    * sized, not corpus-sized); each round is then a map-side-combined pair
    * aggregate over the vocab, a TakeOrdered(1) merge selection, and a
    * broadcast-apply projection — no round ever reshuffles the corpus. This
    * is the training twin of [[bpeTokens]] (which applies a fixed BPE-ish
    * regex), completing the tokenizer loop the way `kmeans_train` /
    * `perceptron_train` close theirs; determinism comes from the
    * double-delimiter replace encoding on [[initSymUdf]].
    *
    * The selected merge is collected per round — O(1) MODEL state (the
    * perceptron-gradient discipline), never data rows — and re-enters the
    * next round as a literal: re-referencing the running relation for both
    * the argmax and the merge-apply would double the logical plan every
    * round (2^rounds analysis blowup), while a literal keeps lineage linear
    * and each round one tiny job over the cached vocab.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMergeRows(s, dir).toDF("round", "pair", "c", "n_syms")
  }

  private val bpeTrained =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String, Long, Long)]]()

  /** the learned merge trajectory, memoized per data dir so `bpe_train` and
    * `bpe_encode` share ONE training run (the model is O(rounds) driver
    * state, exactly what a production job would persist and reload)
    */
  private def bpeMergeRows(s: SparkSession, dir: String): Seq[(Long, String, Long, Long)] =
    bpeTrained.computeIfAbsent(dir, d => Localize.scope { keep =>
      import org.apache.spark.sql.Row
      // '@' is the symbol delimiter; guard the (alphabetic) vocab in both engines
      val words = Tables.loadSpread(s, d, "documents")
        .select(explode(tokensCol).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"), col("cnt"), initSymUdf(col("w")).as("sym"))
      // lineage-flat handle per round (the Graph-pack round discipline):
      // each round's two actions otherwise re-analyze a logical tree that
      // deepens by one merge-apply per round
      var cur = keep.round(0, words)
      val rows = Seq.newBuilder[(Long, String, Long, Long)]
      for (r <- 1 to BpeRounds) {
        val Row(pair: String, c: Long) = cur
          .select(col("cnt"), explode(symPairsUdf(col("sym"))).as("pair"))
          .groupBy("pair").agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("pair")).limit(1)
          .collect()(0)
        val next = keep.round(r,
          cur.select(col("w"), col("cnt"), applyMergeUdf(col("sym"), lit(pair)).as("sym")))
        keep.drop(cur)
        cur = next
        val nAfter = cur.agg(sum(col("cnt") * symCountUdf(col("sym")))).collect()(0).getLong(0)
        rows += ((r.toLong, pair, c, nAfter))
      }
      rows.result()
    })

  /** WITH-body replaying the whole training run: `wf` (corpus vocab with
    * frequencies), `s0` (initial symbols) … `s{BpeRounds}` (fully-merged
    * vocab), `b{r}`/`n{r}` (per-round learned merge / corpus symbol count) —
    * shared by the `bpe_train` and `bpe_encode` oracles. Every `s{r}` (read
    * by `p{r+1}`, `s{r+1}` and `n{r}`) and every `b{r}` (read by `s{r}` and
    * the final select) is `AS MATERIALIZED`: DuckDB otherwise re-inlines the
    * whole chain per reference, and the oracle took minutes at sf0.01.
    */
  private val bpeCtes = {
    def round(r: Int) =
      s"""p$r AS (
        |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM (
        |    SELECT cnt, unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))]) AS pair
        |    FROM (SELECT cnt, list_filter(string_split(sym, '@@'), x -> x <> '') AS l
        |          FROM s${r - 1}))
        |  GROUP BY pair),
        |b$r AS MATERIALIZED (SELECT pair, c FROM p$r ORDER BY c DESC, pair LIMIT 1),
        |s$r AS MATERIALIZED (
        |  SELECT w, cnt,
        |         replace(sym,
        |                 '@' || split_part(pair, ' ', 1) || '@@' || split_part(pair, ' ', 2) || '@',
        |                 '@' || replace(pair, ' ', '') || '@') AS sym
        |  FROM s${r - 1}, b$r),
        |n$r AS (
        |  SELECT CAST(sum(cnt * len(list_filter(string_split(sym, '@@'), x -> x <> ''))) AS BIGINT) AS n_syms
        |  FROM s$r)""".stripMargin
    s"""wf AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest($tokensSql) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY w),
      |s0 AS MATERIALIZED (
      |  SELECT w, cnt,
      |         '@@' || array_to_string(string_split(w, ''), '@@') || '@@' AS sym
      |  FROM wf),
      |${(1 to BpeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  private val bpeTrainSql = {
    val selects = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, pair, c, n_syms FROM b$r, n$r")
      .mkString("\n|UNION ALL\n|")
    s"""WITH $bpeCtes
      |$selects""".stripMargin
  }

  /** apply the full learned merge sequence to one word's symbol string —
    * the O(1) trained model as a closure, the literal-replay twin of the
    * oracle's `s{BpeRounds}` CTE
    */
  private def bpeApplyUdf(merges: Seq[String]) = udf { w: String =>
    var sym = "@@" + w.map(_.toString).mkString("@@") + "@@"
    merges.foreach { p =>
      val sp = p.indexOf(' ')
      val x  = p.substring(0, sp); val y = p.substring(sp + 1)
      sym = sym.replace("@" + x + "@@" + y + "@", "@" + x + y + "@")
    }
    sym
  }

  /** BPE tokenizer APPLICATION: encode every document with the merges
    * learned by [[bpeTrain]] (shared run via [[bpeMergeRows]]), emitting
    * per-document alphabetic word count, post-merge BPE token count, and an
    * order-free md5 fingerprint of the encoded symbol stream — so a single
    * mis-merged occurrence anywhere flips the gate. Closes the tokenizer
    * train→apply loop the way `kmeans_train`→`ann_ivf_trained_topk` closes
    * the index loop.
    *
    * Spark-first/100 TB shape: encoding is DICTIONARY-SHAPED — the merge
    * chain runs once per distinct word (Heap's-law-bounded vocab), never per
    * occurrence; the encoded vocab broadcasts back onto the per-doc word
    * counts (a production job would flip to a shuffle join past a measured
    * vocab size), so the corpus-sized relation is touched by exactly one
    * tokenize+count pass and one map-side join. The fingerprint is the
    * portable md5→int32 idiom, exact in 64-bit sums.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergeRows(s, dir).map(_._2)
    val docWords = Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), explode(tokensCol).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val vocab = docWords.select("w").distinct()
      .select(col("w"), bpeApplyUdf(merges)(col("w")).as("sym"))
      .select(col("w"),
        symCountUdf(col("sym")).as("wsyms"),
        Portable.md5Int(col("sym")).as("wfp"))
    docWords.join(broadcast(vocab), "w")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("wsyms")).as("n_syms"),
        sum(col("tf") * col("wfp")).as("sym_fp"))
  }

  private val bpeEncodeSql =
    s"""WITH $bpeCtes,
      |dw AS (
      |  SELECT doc_id, w, count(*) AS tf FROM (
      |    SELECT doc_id, unnest($tokensSql) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY 1, 2),
      |v AS (
      |  SELECT w,
      |         len(list_filter(string_split(sym, '@@'), x -> x <> '')) AS wsyms,
      |         ${Portable.md5IntSql("sym")} AS wfp
      |  FROM s$BpeRounds)
      |SELECT doc_id,
      |       CAST(sum(tf) AS BIGINT) AS n_words,
      |       CAST(sum(tf * wsyms) AS BIGINT) AS n_syms,
      |       CAST(sum(tf * wfp) AS BIGINT) AS sym_fp
      |FROM dw JOIN v USING (w) GROUP BY doc_id""".stripMargin

  /** minimum in-source term frequency for [[sourceSignatureTerms]] */
  val SigMinTf = 5L

  /** signature terms emitted per source */
  val SigK = 5

  /** Per-source signature terms — the TF-IDF-style "what distinguishes this
    * source" profiler, scored log-free: lift = (source share of the term) /
    * (corpus share of the term) as one all-integer product quotient
    * `tf·tot_c·1e6 div (tok_s·tf_c)`, with a minimum in-source frequency
    * cut so one-off typos can't top the ranking. Top [[SigK]] per source by
    * (lift, token). The curation readout behind source-mixture decisions:
    * which vocabularies a source over-represents.
    *
    * 100 TB shape: ONE fact-scale shuffle (the (source, token) partial
    * aggregate); source totals, corpus totals and the grand total all
    * derive from that vocabulary-sized relation; the final rank windows are
    * source-partitioned over the post-cut vocabulary.
    */
  def sourceSignatureTerms(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val st = keep(Tables.loadSpread(s, dir, "documents")
      .select(col("source"), explode(tokensCol).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf")))
    val srcTot = st.groupBy("source").agg(sum(col("tf")).as("tok_s"))
    val tokTot = st.groupBy("token").agg(sum(col("tf")).as("tf_c"))
    val tot = st.agg(sum(col("tf")).as("tot_c"))
    val out = st.where(col("tf") >= SigMinTf)
      .join(broadcast(srcTot), "source")
      .join(tokTot, "token")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("token"), col("tf"),
        // 128-bit intermediates: tf·tot_c·1e6 blows past 2^63 once the
        // corpus token total nears 1e12 (any 100 TB corpus); DECIMAL(38,0)
        // products stay exact to 38 digits (1e12·1e13·1e6 = 1e31) and
        // `div` returns BIGINT. DuckDB twin widens via HUGEINT.
        expr("CAST(tf AS DECIMAL(38,0)) * tot_c * 1000000 div (CAST(tok_s AS DECIMAL(38,0)) * tf_c)")
          .as("lift_ppm"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("lift_ppm").desc, col("token"))).cast("long"))
      .where(col("rank") <= SigK)
      .orderBy(col("source"), col("rank"))
    out
  }

  private val sourceSignatureTermsSql =
    s"""WITH tk AS (SELECT source, unnest($tokensSql) AS token FROM documents),
      |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
      |srct AS (SELECT source, CAST(sum(tf) AS BIGINT) AS tok_s FROM st GROUP BY 1),
      |tokt AS (SELECT token, CAST(sum(tf) AS BIGINT) AS tf_c FROM st GROUP BY 1),
      |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS tot_c FROM st)
      |SELECT source, token, tf, lift_ppm, rank FROM (
      |  SELECT st.source, st.token, st.tf,
      |         CAST(CAST(st.tf AS HUGEINT) * tot_c * 1000000
      |              // (CAST(tok_s AS HUGEINT) * tf_c) AS BIGINT) AS lift_ppm,
      |         CAST(row_number() OVER (PARTITION BY st.source
      |           ORDER BY CAST(st.tf AS HUGEINT) * tot_c * 1000000
      |                    // (CAST(tok_s AS HUGEINT) * tf_c) DESC, st.token) AS BIGINT) AS rank
      |  FROM st JOIN srct USING (source) JOIN tokt USING (token) CROSS JOIN tot
      |  WHERE st.tf >= $SigMinTf)
      |WHERE rank <= $SigK
      |ORDER BY source, rank""".stripMargin

  /** PRF shape: queries, query terms, feedback depth, expansion terms, top-k */
  val PrfQueries = 8
  val PrfQTerms = 3
  val PrfFb = 5
  val PrfExp = 2
  val PrfK = 10

  /** Pseudo-relevance-feedback retrieval (Rocchio's two-pass expansion over
    * the BM25 index): each query (a probe document's [[PrfQTerms]] top BM25
    * terms) retrieves a first ranking; the top [[PrfFb]] feedback docs vote
    * expansion terms (highest summed BM25 mass, original terms excluded);
    * the query re-runs with original terms at weight 2 and expansion terms
    * at weight 1, emitting the final top-[[PrfK]]. The recall lever BM25
    * alone lacks: a vocabulary-mismatched relevant doc enters through the
    * expansion terms.
    *
    * Cross-engine exactness: each (doc, term) BM25 score is the established
    * bit-identical rational double chain integerized floor-1e6 BEFORE any
    * summation, so every ranking sums/compares exact int64 — no float
    * summation order anywhere. (At extreme corpus scale the rational idf
    * factor grows ~N/df; a deployment drops the fixed point to e3 or adds
    * a min-df cut to keep weighted sums « 2^63 — same headroom note as the
    * signature-term lift.)
    *
    * 100 TB shape: scoring joins the posting relation ON TERM against a
    * broadcast ≤ queries×(terms+expansions) relation — only postings of
    * query terms ever move; both rescore rounds are (query, doc) integer
    * partial aggregates; every window is query-partitioned over
    * candidate-sized relations. The final card is collect-materialized
    * (≤ queries×k rows), releasing the shared posting cache.
    */
  /** memoized-per-dir BM25 posting relation `(doc_id, term, s_e6)` — the
    * shared BASE of the PRF family (`text_prf_search` and
    * `retrieval_mrr_eval` each previously built + cached + dropped their
    * own copy; guide §2.4: one expensive base, many consumers)
    */
  private val prfPairCache = graft.Memo.base()

  private def prfPair(s: SparkSession, dir: String): DataFrame =
    prfPairCache(dir) { d =>
      val docs = Tables.loadSpread(s, d, "documents")
      val toks = docs.select(col("doc_id"), explode(tokensCol).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nRel = docs.agg(count(lit(1)).as("n_total"))
      val score =
        (col("tf") * (lit(11) / lit(5)) / (col("tf") + lit(6) / lit(5))) *
          ((col("n_total") - col("df") + lit(1) / lit(2)) / (col("df") + lit(1) / lit(2)))
      tf.join(dfRel, "term")
        .crossJoin(broadcast(nRel))
        .select(col("doc_id"), col("term"),
          floor(score * lit(1000000)).cast("long").as("s_e6"))
    }

  /** shared PRF pipeline: (round-1 ranking, round-2 ranking). The posting
    * relation is the session memo above; the query-term and round-1
    * relations are kept in the caller's scope (query-count- and
    * candidate-sized) because the downstream tree consumes each more than
    * once (qterms: r1 + the expansion anti-join + allTerms; r1: the
    * feedback cut + retrievalMrrEval's round-1 eval leg) — uncached, each
    * consumer re-ran the posting join + aggregate (guide §2.4).
    */
  private def prfPipeline(
      keep: Localize.Scope, s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val pair = prfPair(s, dir)
    val qids = docs.orderBy("doc_id").limit(PrfQueries)
      .select(col("doc_id").as("query_id"))
    val wq = Window.partitionBy("query_id").orderBy(col("s_e6").desc, col("term"))
    val qterms = keep(pair.join(broadcast(qids), col("doc_id") === col("query_id"))
      .withColumn("r", row_number().over(wq)).where(col("r") <= PrfQTerms)
      .select(col("query_id"), col("term")))
    def scoreWith(terms: DataFrame): DataFrame =
      pair.join(broadcast(terms), "term")
        .where(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("s_e6") * col("w")).as("score_e6"))
    val r1 = keep(scoreWith(qterms.withColumn("w", lit(2L))))
    val wr = Window.partitionBy("query_id").orderBy(col("score_e6").desc, col("doc_id"))
    val fb = r1.withColumn("r", row_number().over(wr)).where(col("r") <= PrfFb)
      .select(col("query_id"), col("doc_id"))
    val wexp = Window.partitionBy("query_id").orderBy(col("t_e6").desc, col("term"))
    val exp = pair.join(broadcast(fb), "doc_id")
      .groupBy(col("query_id"), col("term")).agg(sum(col("s_e6")).as("t_e6"))
      .join(qterms, Seq("query_id", "term"), "left_anti")
      .withColumn("r", row_number().over(wexp)).where(col("r") <= PrfExp)
      .select(col("query_id"), col("term"))
    val allTerms = qterms.withColumn("w", lit(2L))
      .unionByName(exp.withColumn("w", lit(1L)))
    (r1, scoreWith(allTerms))
  }

  def prfSearch(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val (_, r2) = prfPipeline(keep, s, dir)
    val wr = Window.partitionBy("query_id").orderBy(col("score_e6").desc, col("doc_id"))
    r2
      .withColumn("rank", row_number().over(wr).cast("long"))
      .where(col("rank") <= PrfK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_e6"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IR-metrics audit of the PRF pipeline — did expansion actually help?
    * For each query, MRR@[[PrfK]] and precision@[[PrfK]] of the BM25-only
    * round-1 ranking vs the expanded round-2 ranking, against a
    * DETERMINISTIC relevance oracle: a candidate is relevant when it shares
    * the probe document's source (the label both engines can derive from
    * the data alone). All metrics are exact integers — reciprocal rank as
    * `1e6 div rank` (0 when no relevant doc enters the cut), precision as
    * hits·1e6 div k — so the eval hash-gates like [[Similarity.annRecallEval]].
    */
  def retrievalMrrEval(s: SparkSession, dir: String): DataFrame = Localize { keep =>
    val (r1, r2) = prfPipeline(keep, s, dir)
    // materialize r1 BEFORE the final action: the eval tree scans it twice
    // (round-1 leg + round-2's feedback broadcast) and an unmaterialized
    // cache is computed by both consumers' concurrent tasks
    r1.count()
    val src = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
    val qsrc = src.select(col("doc_id").as("query_id"), col("source").as("qsource"))
    val wr = Window.partitionBy("query_id").orderBy(col("score_e6").desc, col("doc_id"))
    def eval(ranked: DataFrame, tag: String): DataFrame =
      ranked.withColumn("rank", row_number().over(wr).cast("long"))
        .where(col("rank") <= PrfK)
        .join(broadcast(qsrc), "query_id")
        .join(src, "doc_id")
        .withColumn("rel", when(col("source") === col("qsource"), 1L).otherwise(0L))
        .groupBy(col("query_id"))
        .agg(
          coalesce(min(when(col("rel") === 1L, col("rank"))), lit(0L)).as("first_rel"),
          sum(col("rel")).as("hits"))
        .select(col("query_id"),
          when(col("first_rel") > 0, expr("1000000 div first_rel")).otherwise(0L)
            .as(s"rr_${tag}_e6"),
          expr(s"hits * 1000000 div $PrfK").as(s"prec_${tag}_ppm"))
    eval(r1, "bm25").join(eval(r2, "prf"), "query_id")
      .orderBy(col("query_id"))
  }

  /** shared PRF oracle CTE chain through both rankings (r1 = BM25-only,
    * r2 = expanded) — composed verbatim by [[prfSearchSql]] and
    * [[retrievalMrrEvalSql]] (the shared-constant discipline that keeps
    * two oracles from desynchronizing; see tsDecomposeCtes)
    */
  private val prfCtes =
    s"""toks AS (
      |  SELECT doc_id, unnest($tokensSql) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_total FROM documents),
      |pair AS (
      |  SELECT doc_id, term,
      |         CAST(floor((tf * (11 / 5) / (tf + 6 / 5))
      |           * ((n_total - df + 1 / 2) / (df + 1 / 2)) * 1000000) AS BIGINT) AS s_e6
      |  FROM tf JOIN dfr USING (term) CROSS JOIN n),
      |qids AS (SELECT doc_id AS query_id FROM documents ORDER BY doc_id LIMIT $PrfQueries),
      |qterms AS (
      |  SELECT query_id, term FROM (
      |    SELECT q.query_id, p.term,
      |           row_number() OVER (PARTITION BY q.query_id
      |                              ORDER BY p.s_e6 DESC, p.term) AS r
      |    FROM pair p JOIN qids q ON p.doc_id = q.query_id)
      |  WHERE r <= $PrfQTerms),
      |r1 AS (
      |  SELECT t.query_id, p.doc_id, CAST(sum(p.s_e6 * 2) AS BIGINT) AS score_e6
      |  FROM pair p JOIN qterms t USING (term)
      |  WHERE p.doc_id <> t.query_id GROUP BY 1, 2),
      |fb AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |                                 ORDER BY score_e6 DESC, doc_id) AS r
      |    FROM r1)
      |  WHERE r <= $PrfFb),
      |cand AS (
      |  SELECT f.query_id, p.term, CAST(sum(p.s_e6) AS BIGINT) AS t_e6
      |  FROM pair p JOIN fb f ON p.doc_id = f.doc_id GROUP BY 1, 2),
      |expd AS (
      |  SELECT query_id, term FROM (
      |    SELECT c.query_id, c.term,
      |           row_number() OVER (PARTITION BY c.query_id
      |                              ORDER BY c.t_e6 DESC, c.term) AS r
      |    FROM cand c ANTI JOIN qterms t
      |      ON t.query_id = c.query_id AND t.term = c.term)
      |  WHERE r <= $PrfExp),
      |allt AS (
      |  SELECT query_id, term, 2 AS w FROM qterms
      |  UNION ALL SELECT query_id, term, 1 FROM expd),
      |r2 AS (
      |  SELECT t.query_id, p.doc_id, CAST(sum(p.s_e6 * t.w) AS BIGINT) AS score_e6
      |  FROM pair p JOIN allt t USING (term)
      |  WHERE p.doc_id <> t.query_id GROUP BY 1, 2)""".stripMargin

  private val prfSearchSql =
    s"""WITH $prfCtes
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_e6 FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY score_e6 DESC, doc_id) AS rank
      |  FROM r2)
      |WHERE rank <= $PrfK
      |ORDER BY query_id, rank""".stripMargin

  private val retrievalMrrEvalSql = {
    def evalLeg(rel: String, tag: String) =
      s"""SELECT query_id,
         |       CASE WHEN first_rel > 0 THEN 1000000 // first_rel ELSE 0 END AS rr_${tag}_e6,
         |       hits * 1000000 // $PrfK AS prec_${tag}_ppm
         |FROM (
         |  SELECT r.query_id,
         |         CAST(coalesce(min(CASE WHEN ds.source = qs.source THEN r.rank END), 0) AS BIGINT) AS first_rel,
         |         CAST(sum(CASE WHEN ds.source = qs.source THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM (
         |    SELECT query_id, doc_id,
         |           CAST(row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank
         |    FROM $rel) r
         |  JOIN documents ds ON ds.doc_id = r.doc_id
         |  JOIN documents qs ON qs.doc_id = r.query_id
         |  WHERE r.rank <= $PrfK
         |  GROUP BY r.query_id)""".stripMargin
    s"""WITH $prfCtes
      |SELECT query_id, rr_bm25_e6, prec_bm25_ppm, rr_prf_e6, prec_prf_ppm
      |FROM (${evalLeg("r1", "bm25")}) b
      |JOIN (${evalLeg("r2", "prf")}) p USING (query_id)
      |ORDER BY query_id""".stripMargin
  }

  /** Heaps'-law vocabulary-growth probe — the scaling readout a tokenizer/
    * vocab plan needs before committing to a vocabulary size: distinct
    * vocabulary at nested corpus prefixes of 1/8, 1/4, 1/2 and all of the
    * corpus (prefix = doc_id below a max_id fraction — an ID-RANGE cut, so
    * the probe needs NO global sort at any corpus size), with token counts
    * and the doubling ratio vocab(2x)/vocab(x) in integer ppm. Heaps' law
    * predicts the ratio ≈ 2^β (β ≈ 0.5 for natural text) — read directly
    * with no log-log fit, the same discipline as the Zipf/degree probes.
    * Each prefix leg is one tokenize + one distinct aggregate; legs nest,
    * so at scale the three smaller legs are prunable id-range scans.
    */
  def heapsLawProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val maxId = docs.agg(max(col("doc_id")).as("mx"))
    val toks = docs.select(col("doc_id"), explode(tokensCol).as("term"))
      .crossJoin(broadcast(maxId))
    val legs = Seq(1L, 2L, 4L, 8L).map { k =>
      // two-level group-by-term shape, never several distincts in one agg
      // (that plans the ×N Expand of the token relation — CLAUDE.md)
      val va = toks.where(col("doc_id") * 8 <= col("mx") * k)
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("vocab"), coalesce(sum(col("c")), lit(0L)).as("n_tokens"))
      val nd = docs.crossJoin(broadcast(maxId))
        .where(col("doc_id") * 8 <= col("mx") * k)
        .agg(count(lit(1)).as("n_docs"))
      nd.crossJoin(broadcast(va))
        .select(lit(k).as("probe_eighths"), col("n_docs"), col("n_tokens"), col("vocab"))
    }
    val out = legs.reduce(_ unionAll _)
    val prev = out.select((col("probe_eighths") * 2).as("probe_eighths"),
      col("vocab").as("vocab_half"))
    out.join(prev, Seq("probe_eighths"), "left")
      .select(col("probe_eighths"), col("n_docs"), col("n_tokens"), col("vocab"),
        expr("CASE WHEN vocab_half IS NOT NULL THEN vocab * 1000000 div vocab_half END")
          .as("growth_ppm"))
      .orderBy(col("probe_eighths"))
  }

  private val heapsLawProbeSql =
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
      |tk AS (
      |  SELECT doc_id, unnest($tokensSql) AS term, mx
      |  FROM documents CROSS JOIN mx),
      |legs AS (
      |  SELECT CAST(1 AS BIGINT) AS probe_eighths,
      |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |         CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(count(DISTINCT term) AS BIGINT) AS vocab
      |  FROM tk WHERE doc_id * 8 <= mx * 1
      |  UNION ALL
      |  SELECT 2, count(DISTINCT doc_id), count(*), count(DISTINCT term)
      |  FROM tk WHERE doc_id * 8 <= mx * 2
      |  UNION ALL
      |  SELECT 4, count(DISTINCT doc_id), count(*), count(DISTINCT term)
      |  FROM tk WHERE doc_id * 8 <= mx * 4
      |  UNION ALL
      |  SELECT 8, count(DISTINCT doc_id), count(*), count(DISTINCT term)
      |  FROM tk WHERE doc_id * 8 <= mx * 8)
      |SELECT l.probe_eighths, l.n_docs, l.n_tokens, l.vocab,
      |       CASE WHEN h.vocab IS NOT NULL THEN l.vocab * 1000000 // h.vocab END AS growth_ppm
      |FROM legs l LEFT JOIN (SELECT probe_eighths * 2 AS probe_eighths, vocab FROM legs) h
      |  USING (probe_eighths)
      |ORDER BY probe_eighths""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("text_prf_search", prfSearch, Some(prfSearchSql)),
    Q("heaps_law_probe", heapsLawProbe, Some(heapsLawProbeSql)),
    Q("retrieval_mrr_eval", retrievalMrrEval, Some(retrievalMrrEvalSql)),
    Q("source_signature_terms", sourceSignatureTerms, Some(sourceSignatureTermsSql)),
    Q("bpe_train", bpeTrain, Some(bpeTrainSql)),
    Q("bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    Q("text_index_lookup", textIndexLookup, Some(textIndexLookupSql)),
    Q("text_token_stats", tokenStats, Some(tokenStatsSql)),
    Q("text_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    Q("cms_token_freq", cmsTokenFreq, Some(cmsTokenFreqSql)),
    Q("lm_fluency", lmFluency, Some(lmFluencySql)),
    Q("tokenizer_coverage", tokenizerCoverage, Some(tokenizerCoverageSql)),
    Q("text_quality", qualityScore, Some(qualityScoreSql)),
    Q("text_lang_id", langId, Some(langIdSql)),
    Q("text_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    Q("text_bm25_top", bm25Top, Some(bm25TopSql)),
    Q("vocab_topk", vocabTopK, Some(vocabTopKSql)),
    Q("rake_keyphrases", rakeKeyphrases, Some(rakeKeyphrasesSql)),
    Q("zipf_profile", zipfProfile, Some(zipfProfileSql)),
    Q("text_readability", textReadability, Some(textReadabilitySql)),
    Q("text_collocations", collocations, Some(collocationsSql)),
    Q("doc_fingerprint", fingerprint, Some(fingerprintSql)),
    Q("text_repetition", repetition, Some(repetitionSql)))
}
