package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.sources.GraftCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftx.GraftExtensions
import org.apache.spark.sql.streaming.Trigger

/** `ingest_backlog`: drain a fixed seeded backlog of frames through
  * `SeedRateSource` in large triggers (JSON parse and parquet write
  * dominate), while one dashboard client reads the tables through the
  * catalog beside the writes.
  */
object IngestWorkloads {

  /** frames committed before the measured drain, when the tables are made */
  val BootstrapFrames = 2000
  /** backlog frames per measured second, and frames per trigger */
  val BacklogFramesPerSecond = 10000
  val BacklogTrigger = 50000
  /** the dashboard client's pause between reads */
  val DashboardPauseMs = 500
  val SetupRepeats = 3
  /** txn tag prefix of the empty triggers that measure the fixed cost */
  val ProbeTxn = "probe"

  val DashboardReads: Seq[(String, String)] = Seq(
    "a4_side_volume" ->
      """SELECT company_id, side, count(*) AS n, sum(volume) AS volume
        |FROM graft.trades GROUP BY company_id, side""".stripMargin,
    "a1_price_range" ->
      """SELECT company_id, max(high) - min(low) AS price_range, count(*) AS n
        |FROM graft.candles GROUP BY company_id""".stripMargin)

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** one dashboard read; `routed` when its plan scans the view's files */
  final case class Read(name: String, totalMs: Double, planMs: Double, executeMs: Double,
      routed: Boolean)

  def backlog(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    // whole triggers only, so the first and the last trigger are alike
    val n = math.max(1L, ctx.seconds.toLong * BacklogFramesPerSecond / BacklogTrigger) * BacklogTrigger
    var gen: FrameGen = null
    var seedFile = ""
    // set up SetupRepeats times from scratch; the last set-up is measured
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val p = SparkWork.tagged(spark.sparkContext, "setup") {
        val root = ctx.dir(s"setup-$i")
        gen = new FrameGen(ctx.seed)
        val boot = gen.take(BootstrapFrames)
        seedFile = s"$root/backlog.jsonl"
        Files.write(Paths.get(seedFile), gen.take(n.toInt).toSeq.asJava, StandardCharsets.UTF_8)
        val p = new Pipeline(spark, root, ctx.tracer)
        p.bootstrap(boot.toSeq)
        p
      }
      (ms(t0, System.nanoTime()) / 1e3, p)
    }
    out.endToEnd("setup_s") = Stats.median(setups.map(_._1))
    ctx.tracer.clear()
    val p = setups.last._2
    val before = (p.commitMs.size, p.refreshMs.size)
    GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", p.root)
    spark.conf.set("spark.graft.matview.paths", p.view)

    val ends = new ConcurrentHashMap[Long, Long]()
    @volatile var draining = true
    @volatile var probing = ctx.trace
    val reads = ArrayBuffer.empty[Read]
    val reader = dashboard(ctx, out, p, reads, () => draining, () => draining || probing)
    val t0 = System.nanoTime()
    reader.start()
    val q = spark.readStream.format("graft.sources.SeedRateSource")
      .option("path", seedFile)
      .option("rowsPerBatch", BacklogTrigger.toString)
      .option("minPartitions", ctx.cores.toString)
      .load()
      .writeStream.option("checkpointLocation", s"${p.root}/ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        out.op(s"trigger $id") { p.trigger(df, s"b$id") }
        ends.put(id, System.nanoTime())
        ()
      }
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    try q.processAllAvailable()
    finally q.stop()
    q.exception.foreach(e => out.fail(s"stream failed: ${e.getMessage}".take(300)))
    val t1 = System.nanoTime()
    draining = false
    // the dashboard keeps reading while a traced run probes the fixed
    // trigger cost, so the probe sees the load the measured triggers saw
    val fixed = probeFixedCost(ctx, p)
    probing = false
    reader.join()

    // the whole backlog is due when the drain starts; SeedRateSource admits
    // exactly BacklogTrigger frames per trigger, in order
    val batches = (0L until (n + BacklogTrigger - 1) / BacklogTrigger).map { b =>
      (b, t0, math.min(BacklogTrigger.toLong, n - b * BacklogTrigger))
    }
    val (fresh, lost) = freshness(batches, ends.asScala.toMap)
    lost.foreach(b => out.fail(s"batch $b never committed"))
    out.endToEnd("throughput_per_s") = n / (ms(t0, t1) / 1e3)
    out.endToEnd("latency_p50_ms") = Stats.weightedPercentile(fresh, 50)
    out.endToEnd("latency_p90_ms") = Stats.weightedPercentile(fresh, 90)
    out.perLayer("source.frames_admitted") = fresh.map(_._2).sum.toDouble

    val rs = reads.synchronized(reads.toSeq)
    out.perLayer("catalog.reads") = rs.size
    if (rs.nonEmpty) {
      out.perLayer("catalog.read_p50_ms") = Stats.percentile(rs.map(_.totalMs), 50)
      out.perLayer("catalog.read_p90_ms") = Stats.percentile(rs.map(_.totalMs), 90)
      out.perLayer("catalog.plan_ms") = rs.map(_.planMs).sum
      out.perLayer("catalog.execute_ms") = rs.map(_.executeMs).sum
      val a4 = rs.filter(_.name == DashboardReads.head._1)
      out.perLayer("catalog.route_hit_ratio") = a4.count(_.routed).toDouble / a4.size
    }
    ctx.sparkWork.foreach { w =>
      val c = w.sum("catalog")
      out.perLayer("catalog.jobs") = c.jobs
      out.perLayer("catalog.executor_cpu_ms") = c.cpuNs / 1e6
    }
    finish(ctx, out, p, gen.truth, before, fixed)
    out
  }

  /** Closed loop, one client, a fixed pause between reads, alternating the
    * two dashboard statements while `running()`; reads that start while
    * `measuring()` count.
    */
  private def dashboard(ctx: Ctx, out: Outcome, p: Pipeline, reads: ArrayBuffer[Read],
      measuring: () => Boolean, running: () => Boolean): Thread = new Thread(() => {
    val spark = ctx.spark
    SparkWork.tagged(spark.sparkContext, "catalog") {
      var i = 0
      while (running()) {
        val (name, sql) = DashboardReads(i % DashboardReads.size)
        val counted = measuring()
        def read(): Unit = {
          val r0 = System.nanoTime()
          val df = spark.sql(sql)
          val plan = df.queryExecution.executedPlan
          val r1 = System.nanoTime()
          val rows = df.collect()
          val r2 = System.nanoTime()
          if (rows.isEmpty) sys.error(s"$name returned no rows")
          if (counted) reads.synchronized {
            reads += Read(name, ms(r0, r2), ms(r0, r1), ms(r1, r2),
              scans(plan).exists(_.startsWith(p.view)))
          }
        }
        if (counted) out.op(s"dashboard $name")(ctx.tracer.span(s"catalog:read:$name")(read()))
        else try read() catch { case scala.util.control.NonFatal(_) => () } // not measured
        i += 1
        Thread.sleep(DashboardPauseMs)
      }
    }
  }, "perfbench-dashboard")

  /** Per-frame freshness samples (ms, frames) from (batch, due time, frames)
    * groups: a group counts from when its frames were DUE, not from when the
    * source admitted them, to the end of the refresh of the trigger that
    * committed them, so any stall before the commit is charged. Also returns
    * the batches no trigger committed.
    */
  def freshness(batches: Seq[(Long, Long, Long)],
      refreshEnd: Map[Long, Long]): (Seq[(Double, Long)], Seq[Long]) = {
    val (done, lost) = batches.partition(b => refreshEnd.contains(b._1))
    (done.map { case (b, due, frames) => (ms(due, refreshEnd(b)), frames) }, lost.map(_._1))
  }

  /** data files under every scan of an executed plan, AQE stages included */
  def scans(plan: SparkPlan): Seq[String] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq.map(Pipeline.localPath)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** The part of a trigger that does not scale with its frames: the same
    * body over an empty batch, median of three (traced runs only). The
    * empty commits it makes land after every measured trigger.
    */
  private def probeFixedCost(ctx: Ctx, p: Pipeline): Option[Double] =
    if (!ctx.trace) None
    else {
      val empty = ctx.spark.emptyDataFrame.selectExpr("CAST(NULL AS STRING) AS value")
      Some(Stats.median((1 to 3).map { i =>
        val t0 = System.nanoTime(); p.trigger(empty, s"$ProbeTxn$i"); ms(t0, System.nanoTime())
      }))
    }

  /** the ground-truth check and the pipeline's per-layer figures */
  private def finish(ctx: Ctx, out: Outcome, p: Pipeline, truth: Truth,
      before: (Int, Int), fixed: Option[Double]): Unit = {
    val n = Pipeline.Outputs.size
    // measured triggers only: not the bootstrap before them, nor the probes after
    val triggers = (p.refreshMs.size - before._2) - fixed.fold(0)(_ => 3)
    val commits = p.commitMs.slice(before._1, before._1 + triggers * n).toSeq
    val refreshes = p.refreshMs.slice(before._2, before._2 + triggers).toSeq
    val modes = p.refreshModes.slice(before._2, before._2 + triggers).toSeq
    val perTrigger = commits.grouped(n).map(_.sum).toSeq
    val tenth = math.max(1, perTrigger.size / 10)
    out.op("ground-truth check") {
      p.check(truth).foreach(e => out.fail(s"check: $e"))
    }
    val (files, bytes) = p.footprint()
    out.perLayer ++= Seq(
      "ingest.demux_call_ms" -> p.demuxMs.slice(before._2, before._2 + triggers).sum,
      "ingest.kept_ratio" -> truth.kept.values.sum.toDouble / truth.frames,
      "ingest.rows_quarantined" -> truth.quarantined.values.sum.toDouble,
      "tablelog.commit_ms" -> commits.sum,
      "tablelog.commit_p50_ms" -> Stats.median(commits),
      "tablelog.commits" -> commits.size.toDouble,
      "tablelog.commit_slowdown" ->
        Stats.median(perTrigger.takeRight(tenth)) / Stats.median(perTrigger.take(tenth)),
      "tablelog.live_files_end" -> files.toDouble,
      "tablelog.bytes_end" -> bytes.toDouble,
      "tablelog.storage_amplification" -> bytes.toDouble / truth.bytes,
      "matview.refresh_ms" -> refreshes.sum,
      "matview.refresh_p50_ms" -> Stats.median(refreshes),
      "matview.refreshes" -> refreshes.size.toDouble,
      "matview.incremental_ratio" -> modes.count(_ == "incremental").toDouble / modes.size)
    ctx.sparkWork.foreach { w =>
      val t = w.sum("tablelog"); val m = w.sum("matview")
      out.perLayer ++= Seq("tablelog.jobs" -> t.jobs.toDouble, "tablelog.tasks" -> t.tasks.toDouble,
        "tablelog.executor_cpu_ms" -> t.cpuNs / 1e6, "matview.jobs" -> m.jobs.toDouble,
        "matview.executor_cpu_ms" -> m.cpuNs / 1e6)
    }
    ctx.triggers.foreach { tl =>
      val ps = tl.progress.asScala.toSeq
      def total(k: String) = ps.map(_._2.getOrElse(k, 0L)).sum.toDouble
      out.perLayer ++= Seq("stream.triggers" -> ps.size.toDouble,
        "source.rows_read" -> ps.map(_._1).sum.toDouble) ++
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .map(k => s"stream.${k}_ms" -> total(k))
      if (ps.nonEmpty) {
        val p50 = Stats.median(ps.map(_._2.getOrElse("triggerExecution", 0L).toDouble))
        out.perLayer("stream.trigger_p50_ms") = p50
        fixed.foreach { f =>
          out.perLayer("stream.fixed_cost_ms") = f
          out.perLayer("stream.fixed_share") = f / p50
        }
      }
    }
  }
}
