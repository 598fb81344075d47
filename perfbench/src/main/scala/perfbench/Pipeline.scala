package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.ingest.Ingest
import graft.sources.{MatView, TableLog}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** The paper's consumer side as one per-trigger body: demux the frames,
  * quarantine the rejects, make five txn-tagged table-log commits, then
  * refresh the view over `trades`. `ingest_backlog` calls [[trigger]] from
  * `foreachBatch`; only the public engine entry points are used.
  */
final class Pipeline(spark: SparkSession, val root: String, tracer: Tracer) {
  import Pipeline._

  def table(t: String): String = s"$root/$t"
  val view: String = s"$root/trades_by_company_side"

  private val lock = new Object
  val demuxMs = ArrayBuffer.empty[Double]
  val commitMs = ArrayBuffer.empty[Double]
  val refreshMs = ArrayBuffer.empty[Double]
  val refreshModes = ArrayBuffer.empty[String]

  private def timed[T](into: ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally lock.synchronized { into += (System.nanoTime() - t0) / 1e6 }
  }

  /** one trigger's work; returns when the view reflects this batch */
  def trigger(raw: DataFrame, txn: String): Unit = tracer.span("stream:trigger", txn) {
    commit(raw, txn)
    val (_, mode) = timed(refreshMs) {
      tracer.span("matview:refresh") {
        SparkWork.tagged(spark.sparkContext, "matview") { MatView.refresh(spark, view) }
      }
    }
    lock.synchronized { refreshModes += mode }
  }

  private def commit(raw: DataFrame, txn: String): Unit = {
    val routed = timed(demuxMs) {
      tracer.span("ingest:demux") { Ingest.demux(raw) + ("quarantine" -> Ingest.quarantine(raw)) }
    }
    Outputs.foreach { t =>
      timed(commitMs) {
        tracer.span(s"tablelog:commit:$t") {
          SparkWork.tagged(spark.sparkContext, "tablelog") {
            TableLog.commitOnceAppend(routed(t), table(t), txn)
          }
        }
      }
    }
  }

  /** create the tables from a first batch of frames and materialize the view */
  def bootstrap(frames: Seq[String]): Unit = {
    commit(spark.createDataset(frames)(Encoders.STRING).toDF("value"), "init")
    MatView.create(spark, view, table("trades"), Seq("company_id", "side"),
      Seq(MatView.AggSpec("count", "*"), MatView.AggSpec("sum", "volume")))
  }

  /** every disagreement between the committed state and the generator's
    * ground truth; empty when the pipeline lost and duplicated nothing
    */
  def check(truth: Truth): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    Tables.foreach { t =>
      val n = TableLog.read(spark, table(t)).count()
      val want = truth.kept.getOrElse(t, 0L)
      if (n != want) errs += s"$t holds $n rows, generator kept $want"
    }
    val got = TableLog.read(spark, table("quarantine")).groupBy("route", "reason").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    if (got != truth.quarantined.toMap)
      errs += s"quarantine holds $got, generator dropped ${truth.quarantined.toMap}"
    val m = MatView.meta(view).get
    val head = TableLog.versions(table("trades")).last
    if (m.baseVersion != head) errs += s"view reflects trades v${m.baseVersion}, head is v$head"
    val cols = Seq("company_id", "side", "_cnt", "sum_volume", "cnt_volume").map(col)
    val mv = TableLog.read(spark, view, Some(m.viewVersion)).select(cols: _*)
    val direct = TableLog.read(spark, table("trades"), Some(m.baseVersion))
      .groupBy("company_id", "side")
      .agg(count(lit(1)).as("_cnt"), sum("volume").as("sum_volume"), count("volume").as("cnt_volume"))
      .select(cols: _*)
    val diff = mv.exceptAll(direct).count() + direct.exceptAll(mv).count()
    if (diff > 0) errs += s"view at v${m.viewVersion} differs from the direct aggregate in $diff rows"
    errs.toSeq
  }

  /** (live data files, their bytes) over the five ingest tables */
  def footprint(): (Long, Long) = {
    val files = Outputs.flatMap(t => TableLog.read(spark, table(t)).inputFiles)
    (files.size.toLong, files.map(f => Files.size(Paths.get(localPath(f)))).sum)
  }
}

object Pipeline {
  val Tables: Seq[String] = Seq("candles", "trades", "order_book", "companies")
  val Outputs: Seq[String] = Tables :+ "quarantine"

  /** a data file's local path, from the URI form Spark lists files in */
  def localPath(f: String): String =
    if (f.startsWith("file:")) Paths.get(new java.net.URI(f)).toString else f
}
