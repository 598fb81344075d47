package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine operation.
  *
  * @param name   stable identifier (drives CORRECTNESS_r{N}.json keys)
  * @param fn     Spark implementation: (session, testdata dir) => result
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same parquet
  *               tables; None for operations not cleanly SQL-expressible
  *               (the driver then records a weaker rows-only check)
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** A themed group of queries (analytics, ingest, llm, ...). */
trait QueryPack {
  def all: Seq[Q]
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap
  final def oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

/** Scratch fixtures: tables a query builds under `/tmp` once per data dir.
  *
  * A [[Fixture]] owns some paths under its pid-scoped root
  * `dir(prefix, dataDir)`. Its first call for a data dir wipes exactly those
  * paths, runs the build and memoizes the result for the JVM; later calls
  * return the memo. A build that throws memoizes nothing, so the next call
  * wipes and builds again. Several fixtures may share one root (a catalog
  * root holds many tables), so a fixture never wipes a path it does not
  * own. The pid in the root keeps two concurrent JVMs (tests beside a
  * Verify run) from interleaving their wipes and writes.
  *
  * CONTRACT: fixtures are keyed by the data-dir string alone; a data dir
  * must not change inside one JVM, or its fixtures serve the old build.
  *
  * Declare every such table with [[fixture]], never with a private map.
  */
object Scratch {
  def dir(prefix: String, dataDir: String): String =
    "/tmp/" + prefix + "_p" + ProcessHandle.current().pid() + "_" +
      dataDir.replaceAll("[^A-Za-z0-9]", "_")

  /** Best-effort recursive delete; an absent path is a no-op. */
  def wipe(path: String): Unit = wipeFile(new java.io.File(path))

  private def wipeFile(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(wipeFile))
    f.delete(); ()
  }

  /** @param owned sub-paths of the root this fixture builds; empty means
    *              the whole root. A shared root is created before the build.
    */
  final class Fixture[T] private[Scratch] (prefix: String, owned: Seq[String]) {
    // one map per fixture: a build may call another fixture with the same
    // data dir, which one shared map would refuse as a recursive update
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, T]()

    /** the memoized build for `dataDir`; `build` gets the fixture's root */
    def apply(dataDir: String)(build: String => T): T =
      memo.computeIfAbsent(dataDir, { d =>
        val root = dir(prefix, d)
        if (owned.isEmpty) wipe(root)
        else {
          owned.foreach(p => wipe(root + "/" + p))
          new java.io.File(root).mkdirs()
        }
        build(root)
      })
  }

  def fixture[T](prefix: String, owned: String*): Fixture[T] =
    new Fixture[T](prefix, owned)
}

/** Loaders for the driver-generated testdata tables (TESTDATA.md / FIXTURES.md §B). */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** every driver-generated testdata table */
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** [[load]] + round-robin spread across the session's shuffle parallelism.
    *
    * The local testdata parquet ships ONE row group per table, and a parquet
    * split only yields rows when a row group's midpoint falls inside it — so
    * every scan stage over these files runs as a single task no matter how
    * `maxPartitionBytes` is tuned, serializing any per-row-expensive pipeline
    * (JSON wire parse, shingling/hashing UDFs, embedding kernels) onto one
    * core. Spreading first costs one narrow exchange of the raw rows and buys
    * full-cluster map parallelism; use it when downstream per-row work
    * dominates the exchange, and plain [[load]] when a scan-adjacent partial
    * aggregate is the whole query. On a production table (many row groups,
    * bucketed layout) the reader gets this parallelism from the file splits
    * and `spread` would be a needless shuffle — it compensates for input
    * layout, it does not change semantics (round-robin is retry-deterministic:
    * Spark local-sorts each partition before dealing).
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    load(spark, dir, name).repartition(n)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark 4
      // rejects by default — read the raw int64 nanos and truncate to
      // microseconds, the truncation DuckDB applies casting TIMESTAMP_NS ->
      // TIMESTAMP) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
      // Spark reads as TIMESTAMP_NTZ — cast to the session-TZ instant type;
      // every entry point pins spark.sql.session.timeZone=UTC, so the wall
      // values are unchanged, matching DuckDB's naive-timestamp read).
      // Normalize both to TimestampType so downstream code sees ONE type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}
