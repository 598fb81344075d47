package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** one timed call at a layer boundary; `trace` groups the spans of one
  * trigger or one query call
  */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != ':')
}

object Span {

  /** self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children count once; child time
    * outside the parent's interval is ignored)
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spans kept in memory and written when the run ends. Disabled, it only
  * runs the body: untraced runs pay nothing but the call.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Int, String)]](() => Nil)

  /** time `body` as span `name`; a span opened with no enclosing span on its
    * thread starts a new trace named `trace`
    */
  def span[T](name: String, trace: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, tr) = outer.headOption.getOrElse((0, if (trace.nonEmpty) trace else s"t$id"))
      stack.set((id, tr) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, tr, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** forget every span recorded so far (set-up work is not measured) */
  def clear(): Unit = done.clear()

  /** total self time per layer in ms, over the traces `keep` accepts */
  def selfMsByLayer(keep: String => Boolean): Map[String, Double] = {
    val ss = spans.filter(s => keep(s.trace))
    val self = Span.selfNs(ss)
    ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(s => self(s.id)).sum / 1e6 }
  }

  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark work summed per benchmark-owned layer tag. The tag rides on the
  * local property [[SparkWork.Tag]] of the thread that submits a job; it is
  * deliberately not the job group, which Structured Streaming owns.
  */
final class SparkWork extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, cpuNs, runMs, shuffleWrite, shuffleRead, spill = 0L
  }
  private val byTag = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]

  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkWork.Tag)))
      .getOrElse("untagged")
    acc(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    acc(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** counters of every tag equal to `tag` or below it (`tag.` prefix);
    * the empty tag sums the whole run
    */
  def sum(tag: String): Acc = synchronized {
    val out = new Acc
    byTag.foreach { case (t, a) =>
      if (tag.isEmpty || t == tag || t.startsWith(tag + ".")) {
        out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
        out.cpuNs += a.cpuNs; out.runMs += a.runMs; out.shuffleWrite += a.shuffleWrite
        out.shuffleRead += a.shuffleRead; out.spill += a.spill
      }
    }
    out
  }
}

object SparkWork {
  val Tag = "perfbench.layer"

  /** run `body` with the thread's layer tag set to `tag` */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, prev)
  }
}

/** `StreamingQueryProgress.durationMs` of every trigger */
final class TriggerLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      progress.add((p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}
