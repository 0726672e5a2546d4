package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.checks.Drift
import graft.model.{Check, RuleGroup, Severity}

/** Replay inputs the oracle data never holds: no rows at all, and drift
  * values that are infinite or NaN.
  */
class ReplayEdgeCasesSpec extends graft.SparkSpec {

  private def at(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-$day%02d $hour%02d:00:00")

  private def eventsOf(rows: Seq[(Timestamp, Long, String, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.zipWithIndex.map { case ((ts, user, kind, v), i) =>
      EventRow(i.toLong, ts, user, kind, v, "{}") }.toDF()
  }

  private lazy val events = eventsOf(Seq(
    (at(1, 1), 1L, "purchase", 12.0), (at(1, 2), 1L, "error", 250.0),
    (at(1, 3), 2L, "purchase", 40.0), (at(2, 1), 2L, "error", 90.0)))

  /** Every public `events*` replay, applied to the given events. */
  private def replays: Seq[(String, DataFrame => DataFrame)] = {
    val s = spark
    import s.implicits._
    val checks = Seq(Check("value_hi", RuleGroup.OutOfRange, Severity.Error, col("value") > 200))
    Seq(
      "eventsWindowCounts" -> (ev => StreamReplay.eventsWindowCounts(spark, ev, checks)),
      "eventsDedupDistinct" -> (ev => StreamReplay.eventsDedupDistinct(spark, ev)),
      "eventsFkViolations" -> (ev => StreamReplay.eventsFkViolations(spark, ev,
        Seq(1L).toDF("c_custkey"), "user_id", "c_custkey")),
      "eventsRowViolations" -> (ev => StreamReplay.eventsRowViolations(spark, ev, checks)),
      "eventsRunningVerdicts" -> (ev =>
        StreamReplay.eventsRunningVerdicts(spark, ev, col("value") > 200)),
      "eventsVolumeAnomaly" -> (ev => StreamReplay.eventsVolumeAnomaly(spark, ev,
        Seq(("purchase", 1.0)).toDF("event_type", "expected_cnt"))),
      "eventsSessionCounts" -> (ev => StreamReplay.eventsSessionCounts(spark, ev)),
      "eventsCorrelate" -> (ev => StreamReplay.eventsCorrelate(spark, ev, "error", "purchase")),
      "eventsWindowedDrift" -> (ev => StreamReplay.eventsWindowedDrift(spark, ev,
        Drift.Histogram(0.0, 256.0, Array.fill(8)(1L)))))
  }

  /** `body`'s result and the streaming queries it started (the bus calls
    * onQueryStarted on the starting thread).
    */
  private def withQueriesStarted[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val out = try body finally spark.streams.removeListener(listener)
    (out, started.get())
  }

  test("every replay of empty input returns an empty frame typed like a real run") {
    replays.foreach { case (name, replay) =>
      val full = replay(events)
      val (empty, started) = withQueriesStarted(replay(events.limit(0)))
      assert(started == 0, s"$name started a streaming query for empty input")
      assert(empty.schema == full.schema, s"$name: ${empty.schema} vs ${full.schema}")
      assert(empty.collect().isEmpty, s"$name returned rows for empty input")
    }
  }

  test("windowed drift bins infinite values to the edges and drops NaN, like Drift.histogram") {
    val ev = eventsOf(Seq(10.0, 40.0, 70.0, Double.NaN, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 300.0, -5.0).zipWithIndex.map { case (v, h) =>
        (at(1, h), 1L, "m", v) } ++
      Seq(100.0, Double.NaN, 130.0, 250.0).zipWithIndex.map { case (v, h) =>
        (at(2, h), 1L, "m", v) })
    val ref = Drift.Histogram(0.0, 256.0, Array.fill(8)(1L))
    val got = StreamReplay.eventsWindowedDrift(spark, ev, ref).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    val want = Seq(at(1, 0), at(2, 0)).map { day =>
      val hist = Drift.histogram(ev.filter(date_trunc("day", col("ts")) === day),
        "value", 0.0, 256.0, 8)
      (day, math.floor(Drift.ks(ref, hist) * 1e4).toLong)
    }
    assert(got == want)
  }
}
