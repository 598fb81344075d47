package graft.llm

import graft.{Portable, Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage): find which records in a DIRTY feed
  * refer to the same real-world entity as a clean master table — the
  * cross-source identity problem every training-data pipeline hits when it
  * merges crawls/feeds that lack shared keys (Fellegi-Sunter shape:
  * block → compare → classify → resolve).
  *
  * The dirty feed is generated DETERMINISTICALLY inside the query (one
  * md5-positioned character dropped from each customer name's digit block +
  * an md5 cent-perturbation of the balance), which makes ground truth known
  * and lets the DuckDB oracle replay generation AND resolution — the
  * precision/recall accounting is hash-gated, not just spot-checked.
  *
  * Pipeline properties the 100 TB posture cares about:
  *  - Candidate generation is DELETION-NEIGHBORHOOD blocking (the
  *    SymSpell/spell-correction indexing trick): each clean record emits its
  *    9 drop-one-character variants of the digit block as blocking keys, and
  *    a dirty record blocks on its own (already 8-char) digit block — a pair
  *    lands in the same (nation, variant) block IFF the dirty digits are
  *    one deletion of the clean digits, so single-deletion recall is exact
  *    BY CONSTRUCTION and blocks stay near-unique (no prefix block that
  *    degenerates to nation-wide all-pairs on zero-padded ids). Fan-out is
  *    a fixed ×9 on the master side only; the shuffle key is the block key.
  *  - Comparison is the BANDED `levenshtein(a, b, 2)` (O(len·k) per pair,
  *    -1 past the band) + exact integer cent distance.
  *  - Resolution picks one best match per dirty record by
  *    (editdist, cent gap, clean id) — a per-dirty-record window over its
  *    candidates only.
  */
object EntityResolution extends QueryPack {

  /** master-table slice resolved in the demo (bounds block sizes at any SF) */
  val MaxKey = 2000L

  /** clean master records: (id, name, nation, cents) */
  private def clean(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .where(col("c_custkey") < MaxKey)
      .select(
        col("c_custkey").as("id"),
        col("c_name").as("name"),
        col("c_nationkey").as("nation"),
        floor(col("c_acctbal").cast("decimal(12,2)") * 100).cast("long").as("cents"))

  /** dirty feed: one record per master row, a character dropped at md5
    * position p ∈ [10, 18] (inside the 9-digit block of
    * `Customer#DDDDDDDDD`) and the balance nudged by md5 cents ∈ [-10, 10]
    */
  private def dirty(s: SparkSession, dir: String): DataFrame = {
    val p = (Portable.md5Int(concat(lit("er:pos:"), col("id").cast("string"))) % 9 + 10).as("p")
    clean(s, dir)
      .withColumn("p", p)
      .select(
        col("id").as("true_id"),
        concat(substring(col("name"), 1, 9),
          expr("substring(name, 10, p - 10)"),
          expr("substring(name, p + 1, 18)")).as("dname"),
        col("nation").as("dnation"),
        (col("cents") + Portable.md5Int(concat(lit("er:bal:"), col("id").cast("string"))) % 21 - lit(10)).as("dcents"))
  }

  def erResolve(s: SparkSession, dir: String): DataFrame = {
    val cl = clean(s, dir)
    val dt = dirty(s, dir)
    // master-side deletion index: the 9 drop-one variants of the digit block
    val clKeys = cl
      .withColumn("digits", substring(col("name"), 10, 9))
      .select(col("id"), col("name"), col("nation"), col("cents"),
        explode(array((0 until 9).map(d =>
          concat(substring(col("digits"), 1, d),
            substring(col("digits"), d + 2, 9))): _*)).as("bk"))
    val dtKeys = dt.withColumn("bk", substring(col("dname"), 10, 8))
    val raw = clKeys.join(dtKeys, Seq("bk"))
      .where(col("nation") === col("dnation"))
      .select(col("id"), col("true_id"), col("name"), col("dname"),
        col("cents"), col("dcents"))
    // repeated adjacent digits make several drops collide on one variant —
    // dedupe PAIRS, not keys
    val cand = raw.distinct()
    val scored = cand
      .withColumn("ed", levenshtein(col("name"), col("dname"), 2))
      .withColumn("gap", abs(col("cents") - col("dcents")))
      .where(col("ed") >= 0 && col("ed") <= 1 && col("gap") <= 10)
    val w = Window.partitionBy("true_id").orderBy(col("ed"), col("gap"), col("id"))
    val resolved = scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    val counts = Seq(
      ("deletion_index_keys", clKeys),
      ("candidates_raw", raw),
      ("candidates_distinct", cand),
      ("classified_matches", scored),
      ("resolved_entities", resolved),
      ("resolved_correct", resolved.where(col("id") === col("true_id"))))
    counts.map { case (stage, df) =>
      df.agg(count(lit(1)).as("n")).select(lit(stage).as("stage"), col("n"))
    }.reduce(_.union(_))
  }

  private val erResolveSql =
    s"""WITH cl AS (
      |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
      |         CAST(floor(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      |  FROM customer WHERE c_custkey < $MaxKey),
      |dt AS (
      |  SELECT id AS true_id,
      |         substr(name, 1, 9) || substr(name, 10, p - 10) || substr(name, p + 1, 18) AS dname,
      |         nation AS dnation,
      |         cents + ${Portable.md5IntSql("'er:bal:' || CAST(id AS VARCHAR)")} % 21 - 10 AS dcents
      |  FROM (SELECT *,
      |          ${Portable.md5IntSql("'er:pos:' || CAST(id AS VARCHAR)")} % 9 + 10 AS p
      |        FROM cl)),
      |clkeys AS (
      |  SELECT id, name, nation, cents,
      |         substr(substr(name, 10, 9), 1, d) || substr(substr(name, 10, 9), d + 2, 9) AS bk
      |  FROM cl, range(9) dd(d)),
      |raw AS (
      |  SELECT k.id, dt.true_id, k.name, dt.dname, k.cents, dt.dcents
      |  FROM clkeys k JOIN dt ON k.bk = substr(dt.dname, 10, 8)
      |                       AND k.nation = dt.dnation),
      |cand AS (SELECT DISTINCT * FROM raw),
      |scored AS (
      |  SELECT *, levenshtein(name, dname) AS ed, abs(cents - dcents) AS gap
      |  FROM cand
      |  WHERE levenshtein(name, dname) <= 1 AND abs(cents - dcents) <= 10),
      |resolved AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY true_id
      |                                 ORDER BY ed, gap, id) AS rn
      |    FROM scored)
      |  WHERE rn = 1)
      |SELECT 'deletion_index_keys' AS stage, count(*) AS n FROM clkeys
      |UNION ALL SELECT 'candidates_raw', count(*) FROM raw
      |UNION ALL SELECT 'candidates_distinct', count(*) FROM cand
      |UNION ALL SELECT 'classified_matches', count(*) FROM scored
      |UNION ALL SELECT 'resolved_entities', count(*) FROM resolved
      |UNION ALL SELECT 'resolved_correct', count(*) FROM resolved WHERE id = true_id""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("er_resolve", erResolve, Some(erResolveSql)))
}
