package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class BenchmarkSpec extends AnyFunSuite {

  test("the frame generator is deterministic: same seed, same frames, same ground truth") {
    val (a, b, c) = (new FrameGen(7), new FrameGen(7), new FrameGen(8))
    val (fa, fb, fc) = (a.take(5000).toSeq, b.take(5000).toSeq, c.take(5000).toSeq)
    assert(fa == fb)
    assert(a.truth.kept == b.truth.kept && a.truth.quarantined == b.truth.quarantined)
    assert(a.truth.bytes == b.truth.bytes)
    assert(fa != fc)
    // every frame is accounted for exactly once, and every drop channel occurs
    assert(a.truth.kept.values.sum + a.truth.quarantined.values.sum == 5000)
    assert(a.truth.quarantined.keySet.map(_._2) ==
      Set("unknown_type", "missing_required", "bad_timestamp"))
    assert(a.truth.kept.keySet == Pipeline.Tables.toSet)
  }

  test("freshness runs from the due time, so frames admitted late still count the wait") {
    val ms = 1000000L
    // batch 0 was due at 0 and committed at 350 ms; batch 1 was due at 0 too,
    // admitted only after batch 0, and committed at 900 ms; batch 2 never ran
    val batches = Seq((0L, 0L, 50000L), (1L, 0L, 50000L), (2L, 100 * ms, 7L))
    val (fresh, lost) = IngestWorkloads.freshness(batches, Map(0L -> 350 * ms, 1L -> 900 * ms))
    assert(fresh == Seq((350.0, 50000L), (900.0, 50000L)))
    assert(lost == Seq(2L))
    assert(Stats.weightedPercentile(fresh, 50) == 350.0)
    assert(Stats.weightedPercentile(fresh, 51) == 900.0)
  }

  test("percentiles use the nearest rank of their sample count") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 99) == 10.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 99) == 99.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    // nearest rank: with 14 samples p90 is the 13th, leaving one beyond it
    assert(Stats.rank(90, 14) == 13 && Stats.rank(99, 1000) == 990)
    // weighted: 40 samples at 1 ms, 60 at 5 ms -> p50 is the 50th sample
    assert(Stats.weightedPercentile(Seq((5.0, 60L), (1.0, 40L)), 40) == 1.0)
    assert(Stats.weightedPercentile(Seq((5.0, 60L), (1.0, 40L)), 50) == 5.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("span self time subtracts the union of overlapping children") {
    val spans = Seq(
      Span(1, 0, "t", "trigger", 0, 100),
      Span(2, 1, "t", "tablelog:commit", 10, 50),
      Span(3, 1, "t", "tablelog:commit", 30, 70), // overlaps span 2: 10..70 covered once
      Span(4, 1, "t", "matview:refresh", 90, 130), // runs past the parent: 90..100 counts
      Span(5, 2, "t", "inner", 20, 25))
    val self = Span.selfNs(spans)
    assert(self(1) == 100 - 60 - 10)
    assert(self(2) == 40 - 5)
    assert(self(3) == 40 && self(4) == 40 && self(5) == 5)
  }

  test("the tracer nests spans per thread and starts a trace per root span") {
    val t = new Tracer(true)
    t.span("trigger", "b0") { t.span("tablelog:commit") { () }; t.span("matview:refresh") { () } }
    t.span("trigger", "b1") { () }
    val s = t.spans
    assert(s.map(_.trace) == Seq("b0", "b0", "b0", "b1"))
    assert(s.filter(_.parent == s.head.id).map(_.name).toSet ==
      Set("tablelog:commit", "matview:refresh"))
    assert(new Tracer(false).span("x") { 42 } == 42)
  }

  test("fingerprints ignore row order and see every value") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
      StructField("x", DoubleType)))
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", -0.0), Row(3L, null, 1e300))
    assert(Fingerprint.of(schema, rows) == Fingerprint.of(schema, rows.reverse))
    assert(Fingerprint.of(schema, rows).endsWith(":3"))
    assert(Fingerprint.of(schema, rows) != Fingerprint.of(schema, rows.updated(0, Row(1L, "a", 0.5000001))))
    assert(Fingerprint.encode(-0.0) == Fingerprint.encode(0.0))
    assert(Fingerprint.encode(new java.math.BigDecimal("100.00")) == "d100")
  }
}
