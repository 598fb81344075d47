package graft

import scala.util.control.NonFatal

/** Benchmark main: times every registered query with [[Harness.timed]] in a
  * [[Harness.session]] at [[Harness.sfDir]] and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  * Failed queries are reported explicitly under "errors" (never folded
  * into a timing — a failed query must not look like a fast one).
  */
object Bench {
  /** the per-query times the compact last line carries — registered
    * queries only (HarnessSpec pins it)
    */
  private[graft] val Headline = Seq(
    "q1_pricing_summary", "q3_topk_revenue", "q5_regional_revenue", "a1_volatility",
    "dedup_minhash", "dedup_exact", "ann_topk", "ann_ivfpq_topk",
    "text_quality", "graph_pagerank", "ingest_grid_candles", "text_bm25_top")

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors  = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try timings(name) = Harness.timed(fn(spark, sfDir))
      catch { case NonFatal(e) => errors(name) = Harness.reason(e).take(200) }
    }
    // millisecond precision keeps the line compact (139 queries at full
    // double precision overflowed the driver's fixed-size log-tail capture
    // in round 4, truncating the JSON mid-map)
    def ms(v: Double): String = (math.rint(v * 1000) / 1000).toString
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${ms(v)}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val json =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"sf":${jstr(sfDir)}}"""
    println(json)
    // the driver's log-tail parser has failed on every prior round (sbt's
    // "[info] " prefix + trailing [success] line): persist the FULL record to
    // a fixed sidecar path so per-query times survive regardless of how the
    // stdout channel is mangled or truncated
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sidecar),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(e) => System.err.println(s"bench sidecar write failed: $e") }
    // committed perf audit trail (BENCH_SIDECAR.md in the repo): total +
    // top-20 by cost, so the history of perf claims is reviewable in git
    // instead of /tmp — committed once per round alongside the artifacts
    try {
      val md = new StringBuilder
      md ++= s"# Bench sidecar — ${timings.size} queries ok, ${errors.size} errors, "
      md ++= s"total ${ms(total)} s, sf dir `$sfDir`\n\n"
      md ++= "Top 20 by cost:\n\n| query | sec |\n|---|---|\n"
      timings.toSeq.sortBy(-_._2).take(20).foreach { case (k, v) =>
        md ++= s"| $k | ${ms(v)} |\n"
      }
      md ++= s"\nFull per-query record: `$sidecar` (regenerated each run).\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_MD", "BENCH_SIDECAR.md")),
        md.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(e) => System.err.println(s"bench md write failed: $e") }
    // The driver stores only the LAST 2000 chars of stdout and json-parses
    // that tail: a 253-query map (~6 KB) therefore starts mid-JSON and has
    // never parsed (rounds 1-7). The final line must itself fit inside the
    // tail window — emit a compact record with a fixed headline subset of
    // per-query times (full detail lives in the line above + the sidecar).
    val hs = Headline.collect {
      case k if timings.contains(k) => s"${jstr(k)}:${ms(timings(k))}"
    }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$hs,"n_ok":${timings.size},"n_err":${errors.size},"sf":${jstr(sfDir)},"all_queries_json":${jstr(sidecar)}}"""
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(compact)
    System.out.flush()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in an oracle SQL string would otherwise make the
    * file invalid JSON, and every reader's parse of it fail. Shared by this
    * record and Verify's `oracle_sql.json`.
    */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}
