package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: end-to-end and per-layer metrics by
  * name (units are fixed in [[Metrics]]), plus the operation tally.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]

  /** count one operation; a thrown error or a failed check fails it */
  def op[T](what: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch { case scala.util.control.NonFatal(e) =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      None
    }
  }

  def fail(what: String): Unit = synchronized { failed += 1; errors += what }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    work: Path, tracer: Tracer, sparkWork: Option[SparkWork], triggers: Option[TriggerLog],
    fingerprints: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toAbsolutePath.toString
  }
}

object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms", "resident_mb" -> "MB")

  private val analytics = Analyses.Mix.flatMap { q =>
    Seq("cold_ms" -> "ms", "build_ms" -> "ms", "plan_ms" -> "ms", "execute_ms" -> "ms",
      "jobs" -> "count", "executor_cpu_ms" -> "ms", "shuffle_write_bytes" -> "bytes")
      .map { case (m, u) => s"analytics.$q.$m" -> u }
  }

  val PerLayer: Seq[(String, String)] = Seq(
    "stream.triggers" -> "count", "stream.latestOffset_ms" -> "ms",
    "stream.getBatch_ms" -> "ms", "stream.queryPlanning_ms" -> "ms",
    "stream.addBatch_ms" -> "ms", "stream.walCommit_ms" -> "ms",
    "stream.commitOffsets_ms" -> "ms", "stream.trigger_p50_ms" -> "ms",
    "stream.fixed_cost_ms" -> "ms", "stream.fixed_share" -> "ratio", "stream.self_ms" -> "ms",
    "source.frames_admitted" -> "count", "source.rows_read" -> "count",
    "ingest.demux_call_ms" -> "ms", "ingest.kept_ratio" -> "ratio",
    "ingest.rows_quarantined" -> "count", "ingest.self_ms" -> "ms",
    "tablelog.commit_ms" -> "ms", "tablelog.commit_p50_ms" -> "ms",
    "tablelog.commits" -> "count", "tablelog.commit_slowdown" -> "ratio",
    "tablelog.live_files_end" -> "count", "tablelog.bytes_end" -> "bytes",
    "tablelog.storage_amplification" -> "ratio",
    "tablelog.jobs" -> "count", "tablelog.tasks" -> "count",
    "tablelog.executor_cpu_ms" -> "ms", "tablelog.self_ms" -> "ms",
    "matview.refresh_ms" -> "ms", "matview.refresh_p50_ms" -> "ms",
    "matview.refreshes" -> "count", "matview.incremental_ratio" -> "ratio",
    "matview.jobs" -> "count", "matview.executor_cpu_ms" -> "ms", "matview.self_ms" -> "ms",
    "catalog.reads" -> "count", "catalog.read_p50_ms" -> "ms", "catalog.read_p90_ms" -> "ms",
    "catalog.plan_ms" -> "ms", "catalog.execute_ms" -> "ms",
    "catalog.route_hit_ratio" -> "ratio", "catalog.jobs" -> "count",
    "catalog.executor_cpu_ms" -> "ms", "catalog.self_ms" -> "ms",
    "analytics.cold_s" -> "s", "analytics.pass_s" -> "s", "analytics.self_ms" -> "ms") ++ analytics ++ Seq(
    "memo.resident_mb_after_cold" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "run.cache_resident_mb" -> "MB",
    "run.failed_ratio" -> "ratio", "trace.spans" -> "count",
    "trace.throughput_per_s" -> "1/s", "trace.latency_p50_ms" -> "ms")
}

/** Benchmark entry point:
  * `--workload <ingest_backlog|analyses> --seed N --seconds S
  *  --trace 0|1 --work DIR --fingerprints FILE`; prints one JSON result as
  * its last stdout line. `--pin DIR` instead writes the analysis tables,
  * their Spark fingerprints and the registered oracle SQL for
  * `pin_fingerprints.py`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      if (a.contains("pin")) Analyses.pin(spark, a("pin"))
      else {
        val trace = a("trace") == "1"
        val sw = if (trace) Some(new SparkWork) else None
        val tl = if (trace) Some(new TriggerLog) else None
        sw.foreach(spark.sparkContext.addSparkListener)
        tl.foreach(spark.streams.addListener)
        val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt, trace, work,
          new Tracer(trace), sw, tl, Paths.get(a("fingerprints")).toAbsolutePath)
        val out = a("workload") match {
          case "ingest_backlog" => IngestWorkloads.backlog(ctx)
          case "analyses" => Analyses.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        out.endToEnd("setup_s") = sessionS + out.endToEnd("setup_s")
        out.endToEnd("resident_mb") = residentMb()
        out.perLayer("run.cache_resident_mb") = cachedMb(spark)
        out.perLayer("run.failed_ratio") = out.failed.toDouble / out.attempted
        sw.foreach { w =>
          val t = w.sum("")
          out.perLayer ++= Seq[(String, Double)]("spark.jobs" -> t.jobs, "spark.stages" -> t.stages,
            "spark.tasks" -> t.tasks, "spark.executor_cpu_ms" -> t.cpuNs / 1e6,
            "spark.executor_run_ms" -> t.runMs, "spark.shuffle_write_bytes" -> t.shuffleWrite,
            "spark.shuffle_read_bytes" -> t.shuffleRead, "spark.spill_bytes" -> t.spill)
        }
        if (trace) {
          val spans = ctx.tracer.spans
          out.perLayer("trace.spans") = spans.size
          ctx.tracer.selfMsByLayer(!_.startsWith(IngestWorkloads.ProbeTxn))
            .foreach { case (layer, ms) => out.perLayer(s"$layer.self_ms") = ms }
          out.perLayer("trace.throughput_per_s") = out.endToEnd("throughput_per_s")
          out.perLayer("trace.latency_p50_ms") = out.endToEnd("latency_p50_ms")
          ctx.tracer.write(Paths.get(a("spans")))
        }
        out.errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
        println(result(out, trace))
      }
    } finally {
      spark.stop()
    }
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      // bound the status store: it otherwise keeps every query a run makes,
      // and the heap left at the end would grow with the run's speed
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM heap still in use after a full collection, cached blocks included */
  private def residentMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def result(out: Outcome, trace: Boolean): String = {
    val (names, values) =
      if (trace) (Metrics.PerLayer, out.perLayer) else (Metrics.EndToEnd, out.endToEnd)
    val ms = names.map { case (n, u) =>
      // a layer this workload never enters reports what it measured: zero
      require(trace || values.contains(n), s"end-to-end metric $n was not measured")
      val v = values.getOrElse(n, 0.0)
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    val correct = out.failed == 0 && out.errors.isEmpty
    s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
