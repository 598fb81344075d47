package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Consumer-side pipeline (E2, SURVEY.md §2.3): raw JSON wire frames → four
  * validated, typed tables, with the reference's drop-on-invalid semantics
  * (`from_rabbitmq_to_clickhouse.py:142-177`) expressed as declarative
  * filters:
  *
  *  - F1 type classification by field-sniffing (`:148-159`) — a message with
  *    an `open` field is a candle, `side` → trade, `bid_price` → order_book,
  *    `name` → company; anything else (incl. malformed JSON) is dropped
  *  - F2 required-field validation (`:122-140`) — any missing/null required
  *    field drops the row
  *  - F3 timestamp validity (`:164-170`) — unparseable timestamps drop
  *  - P8 JSON deserialize with null-on-failure (`:145,174-175`)
  *
  * PARSE-ONCE DISCIPLINE: every `from_json` sits inside
  * [[parsedOnce]]'s `explode(array(...))` Generate. The generator output is a
  * real attribute, so downstream field references and filters cannot be
  * alias-substituted back into per-field `from_json` copies — the historical
  * failure mode here: Catalyst's JSON pruning rewrote every field reference
  * into its own pruned parse (~7 full parses/frame, measured 3.8 s → 25 s at
  * sf0.1), and the earlier workarounds (session-wide
  * `enableJsonExpressionOptimization=false` + a typed-Row filter barrier)
  * mutated global conf and deserialized every row. The Generate barrier needs
  * neither: one parse per frame per plan, plain Column filters, no conf side
  * effects. Across plans, [[demux]] and [[quarantine]] of one batch share its
  * materialized classification ([[shared]]): one parse per frame per batch,
  * however many outputs a trigger commits.
  *
  * Late/duplicate handling is intentionally NOT added here: the reference is
  * at-least-once and keeps duplicates (`:172-173`); dedup is opt-in via
  * [[graft.llm.Dedup]]-style operators downstream.
  */
object Ingest {

  /** one-parse barrier: parse `value` against `schema` into attribute `as` */
  private def parsedOnce(raw: DataFrame, schema: StructType, as: String): DataFrame =
    raw.select(col("*"), explode(array(from_json(col("value"), schema))).as(as))

  /** SINGLE routing rule table (the reference's if/elif chain,
    * `from_rabbitmq_to_clickhouse.py:148-159`, in declaration order) —
    * shared by [[classify]], [[demux]] and [[dropStats]] so the rules can
    * never diverge between the entry points.
    */
  private val routeRules: Seq[(String, String)] = Seq(
    "open" -> "candles", "side" -> "trades",
    "bid_price" -> "order_book", "name" -> "companies")

  private def routeFrom(struct: String): Column =
    routeRules
      .map { case (field, table) => (col(s"$struct.$field").isNotNull, table) }
      .foldRight(lit("unknown"): Column) { case ((cond, table), other) =>
        when(cond, table).otherwise(other)
      }

  private val sniffSchema = StructType(
    routeRules.map { case (field, _) => StructField(field, StringType) })

  /** F1: sniff the routing field off the raw JSON frame with ONE JSON parse
    * per frame (a superset struct of the four discriminator fields, string-
    * typed so presence — not parseability — routes, like the reference's
    * `in message` checks). from_json returns a null struct for malformed
    * JSON, so bad frames fall through to 'unknown'.
    */
  def classify(raw: DataFrame): DataFrame =
    parsedOnce(raw, sniffSchema, "_sniff")
      .withColumn("route", routeFrom("_sniff"))
      .drop("_sniff")

  /** P8+F2+F3 for one table: parse frames against the table's wire schema,
    * drop rows missing required fields, convert + validate the timestamp.
    */
  def parseTable(raw: DataFrame, table: String): DataFrame = {
    val required = Schemas.required(table)
      .map(f => col("m").getField(f).isNotNull).reduce(_ && _)
    val parsed = parsedOnce(raw.select("value"), Schemas.msgSchema(table), "m")
      .where(required)
      .select(col("m.*"))
    if (Schemas.timestamped(table))
      // try_to_timestamp: malformed → null → dropped (ANSI-safe F3 semantics)
      parsed
        .withColumn("timestamp",
          expr(s"try_to_timestamp(timestamp, '${Schemas.TsFormat}')"))
        .where(col("timestamp").isNotNull)
    else parsed
  }

  /** every table's wire fields, one entry per name (the four schemas agree
    * on the type of each field they share)
    */
  private val wireFields: Seq[StructField] =
    Schemas.msgSchema.values.flatMap(_.fields).toSeq.distinctBy(_.name)

  /** all-string superset of every table's wire fields: presence-faithful
    * (routing + required-field validation are presence checks in the
    * reference, `'open' in message`, `from_rabbitmq_to_clickhouse.py:148-159,
    * 122-140`) and parseable ONCE for all routes — a typed superset would
    * null the whole row on one type-mismatched field and mis-route it.
    */
  private val supersetStr =
    StructType(wireFields.map(f => StructField(f.name, StringType)))

  /** one wire field of the superset parse `m`, typed. `try_cast`, NOT cast:
    * ANSI mode (Spark 4 default) makes a plain cast THROW on malformed
    * numerics, and drop-on-invalid requires null — a failed cast nulls the
    * field and the required-field gate drops the frame, the same outcome as
    * a typed parse failure (a cast of an extracted string is ~free next to
    * a second Jackson pass). `timestamp` is parsed: malformed → null (F3).
    */
  private def typed(f: StructField): Column = {
    val wire = col("m").getField(f.name)
    if (f.name == "timestamp") try_to_timestamp(wire, lit(Schemas.TsFormat))
    else wire.try_cast(f.dataType)
  }

  /** THE gates, the one definition every entry point reads: the first gate
    * a frame fails, in the consumer's check order
    * (`from_rabbitmq_to_clickhouse.py:148-170`) like the reference's early
    * returns — `unknown_type` (F1), then `missing_required` (F2: a required
    * field absent, or failing its typed cast), then `bad_timestamp` (F3);
    * null when the frame is kept. Reads `route`, the typed fields and the
    * wire timestamp `m.timestamp` (present but unparseable is F3, not F2).
    */
  private val reason: Column =
    Schemas.msgSchema.keys.foldLeft(when(col("route") === "unknown", lit("unknown_type"))) {
      (acc, t) =>
        val present = Schemas.required(t)
          .map(f => (if (f == "timestamp") col("m.timestamp") else col(f)).isNotNull)
          .reduce(_ && _)
        val gated = acc.when(col("route") === t && !present, lit("missing_required"))
        if (Schemas.timestamped(t))
          gated.when(col("route") === t && col("timestamp").isNull, lit("bad_timestamp"))
        else gated
    } // no otherwise: a kept frame gets null

  /** One row per frame, from ONE JSON parse: its `route`, its `reason` (the
    * first failed gate, null when kept), every wire field typed, and its
    * `value` only where `reason` is set, so the rows stay narrow.
    */
  private def classified(raw: DataFrame): DataFrame =
    parsedOnce(raw.select("value"), supersetStr, "m")
      .select(Seq(col("value"), col("m"), routeFrom("m").as("route")) ++
        wireFields.map(f => typed(f).as(f.name)): _*)
      .withColumn("reason", reason)
      .select(Seq(when(col("reason").isNotNull, col("value")).as("value"),
        col("route"), col("reason")) ++ wireFields.map(f => col(f.name)): _*)

  private val Classified = TreeNodeTag[DataFrame]("graft.ingest.classified")

  /** [[classified]] `raw`, materialized once for every output read from the
    * same `raw`: a lazy DISK_ONLY local checkpoint that the first output's
    * job fills and later outputs read, so each frame of a batch is read,
    * parsed and gated once however many tables are committed. No job runs
    * here, and nothing enters the CacheManager or the heap. The checkpoint
    * hangs off `raw`'s plan as a tag, so it lives exactly as long as the
    * frames: nothing global holds it, and Spark's ContextCleaner drops its
    * blocks once `raw` is unreachable. `raw` is a batch frame (a streaming
    * query demuxes inside `foreachBatch`).
    */
  private def shared(raw: DataFrame): DataFrame = {
    val plan = raw.queryExecution.logical
    plan.synchronized {
      plan.getTagValue(Classified).getOrElse {
        val c = classified(raw).localCheckpoint(eager = false, StorageLevel.DISK_ONLY)
        plan.setTagValue(Classified, c)
        c
      }
    }
  }

  /** Full consumer demux: one mixed frame stream → Map(table → typed rows),
    * each table the kept frames of its route, projected to its columns. All
    * tables (and [[quarantine]]) of one `raw` read its [[shared]]
    * classification, and each table follows `raw`'s partitioning. At 100 TB
    * this is the `foreachBatch` fan-out body (see
    * [[graft.streaming.StreamIngest]]).
    */
  def demux(raw: DataFrame): Map[String, DataFrame] = {
    val kept = shared(raw).where(col("reason").isNull)
    Schemas.msgSchema.map { case (t, schema) =>
      t -> kept.where(col("route") === t).select(schema.fieldNames.toSeq.map(col): _*)
    }
  }

  /** Quarantine relation: the raw frames the demux would DROP, each with its
    * route and the first failed gate ([[reason]]). The reference
    * logs-and-drops; a production pipeline lands these in a side table for
    * replay after a parser fix — the complement of [[demux]] over the same
    * [[shared]] classification.
    */
  def quarantine(raw: DataFrame): DataFrame =
    shared(raw).where(col("reason").isNotNull).select("value", "route", "reason")

  /** Drop accounting: how many frames landed per route vs survived all three
    * gates — ONE scan of the frame stream, ONE JSON parse per frame, the
    * gates of [[reason]] evaluated inline, one tiny shuffle on the 5-valued
    * route key. The classification is aggregated, never materialized. (The
    * naive formulation — re-running [[demux]] per table and unioning —
    * rescans the stream 5×; at 100 TB that is 5 queue replays.)
    */
  def dropStats(raw: DataFrame): DataFrame = {
    val kept = col("reason").isNull.cast("long")
    classified(raw)
      .groupBy("route")
      .agg(
        count(lit(1)).as("n_received"),
        sum(kept).as("n_kept"),
        (count(lit(1)) - sum(kept)).as("n_dropped"))
  }
}
