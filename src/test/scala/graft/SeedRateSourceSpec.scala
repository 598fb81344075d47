package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.sources.SeedFileUpstream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The custom DataSourceV2 connector ([[graft.sources.SeedRateSource]]):
  * rate-limited offset admission, per-slice executor reads, checkpointed
  * restart resume, and composition with the ingest demux.
  */
class SeedRateSourceSpec extends SparkSpec {
  import spark.implicits._

  private val base = "/tmp/graft_test_seedrate"

  test("seed-rate source admits rowsPerBatch per trigger and resumes from checkpoint") {
    Scratch.wipe(base)
    Files.createDirectories(Paths.get(base))
    val seed = s"$base/seed.jsonl"
    Files.writeString(Paths.get(seed), (0 until 10).map(i => s"frame-$i").mkString("\n"))

    val out = collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val q = spark.readStream
      .format("graft.sources.SeedRateSource")
      .option("path", seed)
      .option("rowsPerBatch", "3")
      .load()
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        out += ((id, df.as[String].collect().toSeq.sorted))
        ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val sizes = out.map(_._2.size).filter(_ > 0)
    assert(sizes.forall(_ <= 3), s"a batch exceeded the 3-row admission cap: $sizes")
    assert(out.flatMap(_._2).sorted == (0 until 10).map(i => s"frame-$i").sorted,
      "every seed frame delivered exactly once")

    // restart on the same checkpoint with NO new rows → nothing re-admitted
    val before = out.map(_._2.size).sum
    val q2 = spark.readStream
      .format("graft.sources.SeedRateSource")
      .option("path", seed).option("rowsPerBatch", "3").load()
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        out += ((id, df.as[String].collect().toSeq))
        ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    assert(out.map(_._2.size).sum == before, "restart re-admitted committed rows")
  }

  test("AvailableNow drains N frames in ceil(N / rowsPerBatch) capped batches, then stops") {
    Scratch.wipe(s"$base/now")
    Files.createDirectories(Paths.get(s"$base/now"))
    val seed = s"$base/now/seed.jsonl"
    Files.writeString(Paths.get(seed), (0 until 10).map(i => s"n-$i").mkString("\n"))
    val out = collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q = spark.readStream
      .format("graft.sources.SeedRateSource")
      .option("path", seed)
      .option("rowsPerBatch", "3")
      .load()
      .writeStream
      .option("checkpointLocation", s"$base/now/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out += df.as[String].collect().toSeq
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "an AvailableNow query must stop once drained")
    assert(out.map(_.size) == Seq(3, 3, 3, 1), s"batch sizes under the 3-row cap: ${out.map(_.size)}")
    assert(out.flatten.sorted == (0 until 10).map(i => s"n-$i").sorted,
      "every seed frame delivered exactly once")
  }

  test("adaptive admission: an over-target batch halves row admission, then recovers") {
    Scratch.wipe(s"$base/adapt")
    Files.createDirectories(Paths.get(s"$base/adapt"))
    val seed = s"$base/adapt/seed.jsonl"
    Files.writeString(Paths.get(seed), (0 until 16).map(i => s"f-$i").mkString("\n"))

    val sizes = collection.mutable.ArrayBuffer.empty[Int]
    val seen = collection.mutable.ArrayBuffer.empty[String]
    var slept = false
    val q = spark.readStream
      .format("graft.sources.SeedRateSource")
      .option("path", seed)
      .option("rowsPerBatch", "4")
      .option("targetBatchMs", "400")
      .load()
      .writeStream
      .option("checkpointLocation", s"$base/adapt/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.as[String].collect()
        if (rows.nonEmpty) {
          sizes += rows.length; seen ++= rows
          if (!slept) { slept = true; Thread.sleep(1000) }
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    assert(sizes.head == 4, s"first batch admits the configured cap: $sizes")
    assert(sizes.contains(2), s"the slow batch must halve a following admission: $sizes")
    assert(sizes.drop(sizes.indexOf(2) + 1).exists(_ == 4),
      s"fast batches must recover the cap: $sizes")
    // exactly-once: every frame delivered once across the adaptation
    assert(seen.size == 16 && seen.toSet == (0 until 16).map(i => s"f-$i").toSet)
  }

  test("pluggable paged upstream: admission math holds when page size ≠ rowsPerBatch") {
    Scratch.wipe(s"$base/paged")
    Files.createDirectories(Paths.get(s"$base/paged"))
    PagedFrameUpstream.reset()
    val out = collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q = spark.readStream
      .format("graft.sources.SeedRateSource")
      .option("upstream", classOf[PagedFrameUpstream].getName)
      .option("frames.total", "23")
      .option("page.size", "4") // deliberately ≠ rowsPerBatch
      .option("rowsPerBatch", "5")
      .option("minPartitions", "2")
      .load()
      .writeStream
      .option("checkpointLocation", s"$base/paged/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out += df.as[String].collect().toSeq
        ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    // admission is paced by rowsPerBatch, not by the upstream's page size
    val sizes = out.map(_.size).filter(_ > 0)
    assert(sizes.forall(_ <= 5), s"a batch exceeded the 5-row admission cap: $sizes")
    assert(sizes.count(_ == 5) >= 4, s"full batches should admit exactly 5: $sizes")
    // every upstream frame delivered exactly once, across page boundaries
    assert(out.flatten.sorted == (0 until 23).map(i => s"frame-$i").sorted)
    // the pager was actually exercised, and every opened slice was closed
    assert(PagedFrameUpstream.requests.get() > 0, "no page request reached the upstream")
    assert(PagedFrameUpstream.opens.get() == PagedFrameUpstream.closes.get(),
      s"slice leak: ${PagedFrameUpstream.opens.get()} opens vs ${PagedFrameUpstream.closes.get()} closes")
    assert(PagedFrameUpstream.opens.get() > 0)
  }

  test("seed-file slices equal Files.lines' slices across every line terminator") {
    Scratch.wipe(s"$base/bytes")
    Files.createDirectories(Paths.get(s"$base/bytes"))
    val seed = Paths.get(s"$base/bytes/seed.jsonl")
    // \n, \r\n and \r; empty lines; 2-, 3- and 4-byte characters; no final terminator
    Files.write(seed, "α-0\nβ-1\r\n\r\nдва\r€ 4\n\n日本-6\r\r\n𝄞-8".getBytes(UTF_8))
    val want = Using.resource(Files.lines(seed, UTF_8))(_.iterator().asScala.toVector)
    val upstream = new SeedFileUpstream(seed.toString)
    assert(upstream.total() == want.size)
    for (lo <- 0 to want.size; hi <- lo to want.size + 1) {
      val got = Using.resource(upstream.open(lo, hi))(_.toVector)
      assert(got == want.slice(lo, hi), s"slice [$lo, $hi)")
    }
  }

  test("a seed-file line that is not valid UTF-8 fails only the slice serving it") {
    Scratch.wipe(s"$base/malformed")
    Files.createDirectories(Paths.get(s"$base/malformed"))
    // a bad continuation byte, an overlong '/', an encoded surrogate
    Seq(Array(0xc3, 0x28), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80)).zipWithIndex.foreach {
      case (bad, i) =>
        val seed = Paths.get(s"$base/malformed/seed$i.jsonl")
        Files.write(seed, "ok-0\n".getBytes(UTF_8) ++ bad.map(_.toByte) ++ "\nok-2".getBytes(UTF_8))
        intercept[java.io.UncheckedIOException](
          Using.resource(Files.lines(seed, UTF_8))(_.count()))
        val upstream = new SeedFileUpstream(seed.toString)
        assert(Using.resource(upstream.open(0, 1))(_.toVector) == Vector("ok-0"))
        assert(Using.resource(upstream.open(2, 3))(_.toVector) == Vector("ok-2"))
        intercept[java.io.UncheckedIOException](Using.resource(upstream.open(1, 2))(_.toVector))
    }
  }

  test("seed-rate frames flow through the ingest demux unchanged") {
    Scratch.wipe(s"$base/demux")
    Files.createDirectories(Paths.get(s"$base/demux"))
    val seed = s"$base/demux/seed.jsonl"
    val candle =
      """{"company_id":"FIGI1","timestamp":"2024-03-01 10:00:00","open":1.0,"high":2.0,"low":0.5,"close":1.5,"volume":7}"""
    Files.writeString(Paths.get(seed), Seq(candle, candle, """{"junk":1}""").mkString("\n"))
    val q = spark.readStream
      .format("graft.sources.SeedRateSource")
      .option("path", seed).option("rowsPerBatch", "10").load()
      .writeStream
      .option("checkpointLocation", s"$base/demux/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ingest.Ingest.demux(df)("candles")
          .write.mode("append").parquet(s"$base/demux/candles")
        ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    assert(spark.read.parquet(s"$base/demux/candles").count() == 2L)
  }
}

/** Synthetic paged upstream for the pluggability contract: a fake API that
  * serves deterministic frames in fixed-size pages. `open(lo, hi)` pages
  * from the page containing `lo` through the page containing `hi − 1` —
  * exactly how a production [[graft.sources.FrameUpstream]] would wrap an
  * HTTP/gRPC pager — while offsets, admission and checkpointing stay in the
  * stream layer. Instantiated reflectively from the DSv2 `upstream` option
  * with the full options map (keys arrive lowercased).
  */
class PagedFrameUpstream(opts: Map[String, String]) extends graft.sources.FrameUpstream {
  private val n        = opts("frames.total").toLong
  private val pageSize = opts("page.size").toInt
  override def total(): Long = n
  override def open(lo: Long, hi: Long): graft.sources.FrameSlice = {
    PagedFrameUpstream.opens.incrementAndGet()
    new graft.sources.FrameSlice {
      private var idx = lo
      private var pageStart = -1L
      private var page: Array[String] = Array.empty
      override def hasNext: Boolean = idx < hi
      override def next(): String = {
        val start = idx / pageSize * pageSize
        if (pageStart != start || page.isEmpty) { // one "API request" per page
          PagedFrameUpstream.requests.incrementAndGet()
          pageStart = start
          page = (start until math.min(start + pageSize, n)).map(j => s"frame-$j").toArray
        }
        val v = page((idx - pageStart).toInt)
        idx += 1
        v
      }
      override def close(): Unit = { PagedFrameUpstream.closes.incrementAndGet(); () }
    }
  }
}

/** JVM-wide counters (local-mode executors share the JVM) */
object PagedFrameUpstream {
  val requests = new java.util.concurrent.atomic.AtomicLong
  val opens    = new java.util.concurrent.atomic.AtomicLong
  val closes   = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = { requests.set(0); opens.set(0); closes.set(0) }
}
