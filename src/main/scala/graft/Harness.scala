package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one measured run: how a timing, a plan dossier or a bench number is
  * configured and timed. [[Bench]], the `perf`/`audit`/`plans` verbs of
  * [[Main]] and [[ScaleProbe]] all build [[session]] and time with
  * [[timed]], so their numbers come from the same session.
  *
  * `Verify` (hash-gated output, plain scan splits), `Smoke` (the driver's
  * unconfigured session) and `Main`'s user verbs (`SPARK_MASTER`) keep their
  * own builders on purpose.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else the host's cores capped at 32 */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  /** `SPARK_GRAFT_SF_DIR`, else sf0.1 */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with `cpus` shuffle partitions, then an untimed warm-up */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // bench parquet files are a few MB: default 128m splits would serialize
      // every scan onto 1-2 cores. 1m splits ≈ one split per core at sf0.1 —
      // the local-mode analogue of sizing splits to the cluster (the conf a
      // real deployment tunes per table size).
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/broadcast machinery + parquet footers, so
    // the first timed query doesn't absorb session startup cost
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case NonFatal(_) => () }
    spark
  }

  /** Wall seconds of one noop write of registered query `name` at `dir`. */
  def timed(spark: SparkSession, name: String, dir: String = sfDir): Double = {
    val fn = SparkEntry.queries(name)
    timed(fn(spark, dir))
  }

  /** Wall seconds of one noop write of `result`, its build inside the timed
    * region. Throws on failure — a failed query must never come back as a
    * (fast) time.
    */
  def timed(result: => DataFrame): Double = {
    val t0 = System.nanoTime()
    result.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** a failure's message, else its class name — for one-line reports */
  def reason(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
}
