package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.{Check, RuleGroup, Severity}
import graft.streaming.StreamingValidation

final case class StreamClip(part_id: String, ts: Timestamp, clip_id: String,
                            dur_ms: Int, codec: String)

class StreamingSpec extends SparkSpec {

  private def tsAt(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 00:$minute%02d:$sec%02d")

  private val checks = Seq(
    Check("clip_id_not_null", RuleGroup.MissingValues, Severity.Error,
      col("clip_id").isNull),
    Check("dur_ms_range", RuleGroup.OutOfRange, Severity.Error,
      col("dur_ms") < 0 || col("dur_ms") > 30000))

  test("referentialViolations: stream-static anti join flags unknown codecs") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dim = graft.synth.Synth.dimCodec(s).toDF()
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.referentialViolations(
        input.toDF(), dim, Seq("codec"), Seq("codec"), "codec_fk")
      .select("clip_id", "codec", "check_name")
      .writeStream.format("memory").queryName("ref_sink")
      .outputMode("append").start()
    try {
      input.addData(
        StreamClip("p0", tsAt(0), "c1", 500, "opus"),        // known codec
        StreamClip("p0", tsAt(0, 10), "c2", 600, "vorbis9"), // unknown
        StreamClip("p0", tsAt(0, 20), "c3", 700, null))      // null FK exempt
      q.processAllAvailable()
      val rows = s.sql("SELECT * FROM ref_sink").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[String]("clip_id") === "c2")
      assert(rows.head.getAs[String]("check_name") === "codec_fk")
      // 100 TB shape: the static dim side is BROADCAST — the unbounded
      // stream side must never shuffle for this check
      val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast FK join in:\n$p")
      assert(!p.contains("SortMergeJoin"), "stream side must not sort-merge")
    } finally q.stop()
  }

  test("violations: row-level streaming check tags (append mode)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.violations(input.toDF(), checks)
      .select("clip_id", "part_id", "violated_checks")
      .writeStream.format("memory").queryName("viol_sink")
      .outputMode("append").start()
    try {
      input.addData(
        StreamClip("p0", tsAt(0), "c1", 500, "opus"),
        StreamClip("p0", tsAt(0, 10), null, 600, "opus"),    // null clip_id
        StreamClip("p0", tsAt(0, 20), "c3", 99999999, "opus")) // dur out of range
      q.processAllAvailable()
      val rows = s.sql("SELECT * FROM viol_sink ORDER BY part_id").collect()
      assert(rows.length === 2)
      val tags = rows.map(r =>
        Option(r.getAs[String]("clip_id")).getOrElse("null") ->
          r.getSeq[String](2).toSet).toMap
      assert(tags("null") === Set("clip_id_not_null"))
      assert(tags("c3") === Set("dur_ms_range"))
    } finally q.stop()
  }

  test("windowedCheckCounts: per-window pivot emitted after watermark close") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.windowedCheckCounts(
        input.toDF(), checks, "ts", "1 minute", "30 seconds")
      .writeStream.format("memory").queryName("win_sink")
      .outputMode("append").start()
    try {
      // window [00:00,00:01): 3 rows, 1 violation; the 00:10 row pushes the
      // watermark past the window end on the NEXT batch
      input.addData(
        StreamClip("p0", tsAt(0, 1), "c1", 500, "opus"),
        StreamClip("p0", tsAt(0, 2), null, 600, "opus"),
        StreamClip("p0", tsAt(0, 3), "c3", 700, "opus"),
        StreamClip("p0", tsAt(10), "c4", 800, "opus"))
      q.processAllAvailable()
      input.addData(StreamClip("p0", tsAt(11), "c5", 900, "opus"))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT * FROM win_sink WHERE window_start = timestamp'2026-01-01 00:00:00'")
        .collect()
      assert(rows.length === 1)
      assert(rows(0).getAs[Long]("rows_total") === 3L)
      assert(rows(0).getAs[Long]("clip_id_not_null") === 1L)
      assert(rows(0).getAs[Long]("dur_ms_range") === 0L)
    } finally q.stop()
  }

  test("config registry parity: disabled check vanishes from the streamed pivot and tags") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // same registry shape the batch paths consult — disabling
    // dur_ms_range must remove its pivot column, its tag, and its effect
    // on the window status, exactly like the batch verdicts
    val ec = graft.runner.EngineConfig.parse(s,
      """{"suites": [{"suite": "predicate", "checks": [
        |  {"name": "dur_ms_range", "enabled": false}]}]}""".stripMargin)
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.windowedCheckCounts(
        input.toDF(), checks, "ts", "1 minute", "30 seconds", ec)
      .writeStream.format("memory").queryName("cfg_win_sink")
      .outputMode("append").start()
    val input2 = MemoryStream[StreamClip]
    val q2 = StreamingValidation.violations(input2.toDF(), checks, ec)
      .select("clip_id", "violated_checks")
      .writeStream.format("memory").queryName("cfg_viol_sink")
      .outputMode("append").start()
    try {
      // the only violation in the window is the DISABLED dur_ms_range one
      val data = Seq(
        StreamClip("p0", tsAt(0, 1), "c1", 500, "opus"),
        StreamClip("p0", tsAt(0, 2), "c2", 99999999, "opus"), // dur out of range
        StreamClip("p0", tsAt(10), "c4", 800, "opus"))        // watermark push
      input.addData(data: _*); q.processAllAvailable()
      input.addData(StreamClip("p0", tsAt(11), "c5", 900, "opus"))
      q.processAllAvailable()
      val row = s.sql(
        "SELECT * FROM cfg_win_sink WHERE window_start = timestamp'2026-01-01 00:00:00'")
        .collect().head
      assert(!row.schema.fieldNames.contains("dur_ms_range"),
        "disabled check must vanish from the pivot")
      assert(row.getAs[Long]("clip_id_not_null") === 0L)
      assert(row.getAs[String]("status") === "PASS",
        "a disabled check must not grade the window")
      input2.addData(data: _*); q2.processAllAvailable()
      assert(s.sql("SELECT * FROM cfg_viol_sink").collect().isEmpty,
        "rows violating only a disabled check must not emit")
    } finally { q.stop(); q2.stop() }
  }

  test("config registry parity: severity downgrade re-grades status, counts unchanged") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ec = graft.runner.EngineConfig.parse(s,
      """{"suites": [{"suite": "predicate", "checks": [
        |  {"name": "dur_ms_range", "severity": "warning"}]}]}""".stripMargin)
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.windowedCheckCounts(
        input.toDF(), checks, "ts", "1 minute", "30 seconds", ec)
      .writeStream.format("memory").queryName("dgr_win_sink")
      .outputMode("append").start()
    try {
      input.addData(
        StreamClip("p0", tsAt(0, 1), "c1", 500, "opus"),
        StreamClip("p0", tsAt(0, 2), "c2", 99999999, "opus"),
        StreamClip("p0", tsAt(10), "c4", 800, "opus"))
      q.processAllAvailable()
      input.addData(StreamClip("p0", tsAt(11), "c5", 900, "opus"))
      q.processAllAvailable()
      val row = s.sql(
        "SELECT * FROM dgr_win_sink WHERE window_start = timestamp'2026-01-01 00:00:00'")
        .collect().head
      // count unchanged, verdict class moved — runner.py:175-176 semantics
      assert(row.getAs[Long]("dur_ms_range") === 1L)
      assert(row.getAs[String]("status") === "WARN",
        "downgraded error must grade WARN, not FAIL")
    } finally q.stop()
  }

  test("windowedVolumeAnomaly: ratio vs static profile; unknown group kept") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // expected 2 rows per window for codec=opus; no profile for codec=flac
    val expected = Seq(("opus", 2L)).toDF("codec", "expected_cnt")
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.windowedVolumeAnomaly(
        input.toDF(), expected, "codec", "ts", "1 minute", "30 seconds",
        lo = 0.75, hi = 1.5)
      .writeStream.format("memory").queryName("vol_sink")
      .outputMode("append").start()
    try {
      input.addData( // window [00:00,00:01): opus×4 (2x expected), flac×1
        StreamClip("p0", tsAt(0, 1), "c1", 500, "opus"),
        StreamClip("p0", tsAt(0, 2), "c2", 500, "opus"),
        StreamClip("p0", tsAt(0, 3), "c3", 500, "opus"),
        StreamClip("p0", tsAt(0, 4), "c4", 500, "opus"),
        StreamClip("p0", tsAt(0, 5), "c5", 500, "flac"),
        StreamClip("p0", tsAt(10), "c6", 800, "opus"))
      q.processAllAvailable()
      input.addData(StreamClip("p0", tsAt(11), "c7", 900, "opus"))
      q.processAllAvailable()
      val rows = s.sql(
        """SELECT * FROM vol_sink
          |WHERE window_start = timestamp'2026-01-01 00:00:00'""".stripMargin)
        .collect().map(r => (r.getAs[String]("codec"), r.getAs[Long]("cnt"),
          Option(r.getAs[java.lang.Long]("ratio_1e6")).map(_.toLong),
          Option(r.getAs[java.lang.Boolean]("is_anomaly")).map(_.booleanValue)))
        .sortBy(_._1)
      assert(rows.toSeq == Seq(
        // no profile → null ratio but FALSE flag (batch-twin parity: a
        // filter(is_anomaly) keeps unknown groups out without dropping
        // them from the full report)
        ("flac", 1L, None, Some(false)),
        ("opus", 4L, Some(2000000L), Some(true)))) // 2x expected → anomaly
    } finally q.stop()
  }

  test("dedupe: duplicate clip_ids within the watermark are dropped") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.dedupe(input.toDF(), Seq("clip_id"), "ts", "10 minutes")
      .select("clip_id")
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try {
      input.addData(
        StreamClip("p0", tsAt(0), "c1", 500, "opus"),
        StreamClip("p0", tsAt(1), "c1", 500, "opus"), // dup
        StreamClip("p0", tsAt(2), "c2", 600, "opus"))
      q.processAllAvailable()
      input.addData(StreamClip("p0", tsAt(3), "c1", 500, "opus")) // still within watermark
      q.processAllAvailable()
      val ids = s.sql("SELECT clip_id FROM dedup_sink").collect().map(_.getString(0))
      assert(ids.sorted.toSeq === Seq("c1", "c2"))
    } finally q.stop()
  }

  test("windowedDrift: matching window PASSes, shifted window FAILs on KS") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // reference distribution: dur_ms uniform over [0, 1000) in 4 bins
    val refHist = graft.checks.Drift.Histogram(0.0, 1000.0, Array(25L, 25L, 25L, 25L))
    val input = MemoryStream[StreamClip]
    val q = StreamingValidation.windowedDrift(
        input.toDF(), "dur_ms", "ts", "1 minute", "30 seconds", refHist)
      .writeStream.format("memory").queryName("drift_sink")
      .outputMode("append").start()
    try {
      // window 0: spread across all four bins (matches ref) — PASS
      input.addData((0 until 20).map(i =>
        StreamClip("p0", tsAt(0, i % 50), s"a$i", (i % 4) * 250 + 100, "opus")): _*)
      // window 1: everything in the last bin (hard shift) — FAIL
      input.addData((0 until 20).map(i =>
        StreamClip("p0", tsAt(1, i % 50), s"b$i", 900, "opus")): _*)
      q.processAllAvailable()
      // push the watermark past both windows
      input.addData(StreamClip("p0", tsAt(10), "z", 100, "opus"))
      q.processAllAvailable()
      input.addData(StreamClip("p0", tsAt(11), "z2", 100, "opus"))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT window_start, ks, status FROM drift_sink ORDER BY window_start")
        .collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getString(2)))
      assert(rows.length >= 2)
      assert(rows(0)._3 === "PASS", s"window0: ${rows(0)}")
      assert(rows(1)._3 === "FAIL", s"window1: ${rows(1)}")
      assert(rows(1)._2 > 0.5)
    } finally q.stop()
  }

  test("runningVerdicts: stateful per-partition verdict updates across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[StreamClip]
    val flagged = input.toDF()
      .withColumn("is_viol", col("dur_ms") > 30000)
    val q = StreamingValidation.runningVerdicts(flagged, "part_id", "is_viol")
      .writeStream.format("memory").queryName("verdict_sink")
      .outputMode("update").start()
    try {
      input.addData(
        StreamClip("p0", tsAt(0), "c1", 500, "opus"),
        StreamClip("p1", tsAt(0), "c2", 600, "opus"))
      q.processAllAvailable()
      input.addData(StreamClip("p1", tsAt(1), "c3", 99999999, "opus"))
      q.processAllAvailable()
      val latest = s.sql(
        """SELECT part_id, max(rows_seen) AS seen,
          |       max(rows_failed) AS failed
          |FROM verdict_sink GROUP BY part_id ORDER BY part_id""".stripMargin)
        .collect()
      assert(latest.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
        Seq(("p0", 1L, 0L), ("p1", 2L, 1L)))
      val p1Status = s.sql(
        "SELECT status FROM verdict_sink WHERE part_id='p1' AND rows_seen=2").collect()
      assert(p1Status.map(_.getString(0)).toSeq === Seq("FAIL"))
    } finally q.stop()
  }

  // ---- replay bridges (batch-oracle parity on the real events table) ----

  private lazy val events =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  test("replay dedup == batch DISTINCT (user, type, hour) on real events") {
    val got = graft.streaming.StreamReplay
      .eventsDedupDistinct(spark, events).collect().toSeq
    val want = events
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("window_start"))
      .distinct()
      .orderBy("user_id", "event_type", "window_start").collect().toSeq
    assert(got.size == want.size && got == want,
      s"stream dedup diverged from batch distinct: ${got.size} vs ${want.size}")
    // the dedup is real: the events table contains duplicate keys
    assert(want.size < events.count())
  }

  test("replay stream-static FK == batch anti-join on real events") {
    val dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .filter(col("c_custkey") % 7 =!= 0)
    val got = graft.streaming.StreamReplay
      .eventsFkViolations(spark, events, dim, "user_id", "c_custkey")
      .collect().toSeq
    // the replay's EventRow encoder reads the NTZ parquet ts as
    // TimestampType (identical instant under the UTC session) — align the
    // batch twin's type for Row equality
    val want = events.withColumn("ts", col("ts").cast("timestamp"))
      .filter(col("user_id").isNotNull)
      .join(dim.select(col("c_custkey")).distinct(),
        col("user_id") === col("c_custkey"), "left_anti")
      .withColumn("check_name", lit("referential"))
      .orderBy("event_id").collect().toSeq
    assert(got == want, s"stream FK diverged: ${got.size} vs ${want.size}")
    assert(want.nonEmpty, "fixture must contain real orphans")
  }

  test("window-count sentinels derive from windowDur+delay (3h window flushes)") {
    // with the old hard-coded maxTs+2h/4h sentinels, a 3-hour window +
    // 1-hour delay under-advanced the watermark and the last real windows
    // never flushed — the derived offsets must make replay == batch
    val got = graft.streaming.StreamReplay.eventsWindowCounts(
      spark, events, checks2h, windowDur = "3 hours",
      watermarkDelay = "1 hour", batches = 3).collect().toSeq
    val want = events
      .groupBy(window(col("ts").cast("timestamp"), "3 hours")
        .getField("start").as("window_start"))
      .agg(count(lit(1)).as("rows_total"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_value"))
      .select(col("window_start"), col("rows_total"),
        when(col("neg_value") > 0L, "FAIL").otherwise("PASS").as("status"),
        col("neg_value"))
      .orderBy("window_start").collect().toSeq
    assert(got == want, s"3h-window replay diverged: ${got.size} vs ${want.size} rows")
  }

  private val checks2h = Seq(
    Check("neg_value", RuleGroup.OutOfRange, Severity.Error, col("value") < 0))

  test("replay row violations == batch filter with check-order tags") {
    val checks = Seq(
      Check("value_hi", RuleGroup.OutOfRange, Severity.Error, col("value") > 200),
      Check("props_tiny", RuleGroup.SqlConstraint, Severity.Warning,
        length(col("props")) <= 8))
    val got = graft.streaming.StreamReplay
      .eventsRowViolations(spark, events, checks).collect().toSeq
    val want = events.withColumn("ts", col("ts").cast("timestamp"))
      .filter(col("value") > 200 || length(col("props")) <= 8)
      .withColumn("violated",
        when(col("value") > 200 && length(col("props")) <= 8, "value_hi,props_tiny")
          .when(col("value") > 200, "value_hi").otherwise("props_tiny"))
      .orderBy("event_id").collect().toSeq
    assert(got == want, s"stream violations diverged: ${got.size} vs ${want.size}")
    assert(want.nonEmpty, "fixture must contain real violations")
  }

  test("replay running verdicts (update mode, max-of-updates) == batch GROUP BY") {
    val got = graft.streaming.StreamReplay
      .eventsRunningVerdicts(spark, events, violation = col("value") > 200)
      .collect().toSeq
    val want = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id").cast("string").as("part_id"))
      .agg(count(lit(1)).as("rows_seen"),
        sum(when(col("value") > 200, 1L).otherwise(0L)).as("rows_failed"))
      .withColumn("status",
        when(col("rows_failed") === 0L, "PASS").otherwise("FAIL"))
      .orderBy("part_id").collect().toSeq
    assert(got == want, s"stream verdicts diverged: ${got.size} vs ${want.size}")
    // non-degenerate: the fixture produces BOTH verdicts
    val statuses = want.map(_.getString(3)).toSet
    assert(statuses == Set("PASS", "FAIL"), s"degenerate fixture: $statuses")
  }

  test("replay volume anomaly == batch hourly counts vs static expected") {
    val expected = events.filter(col("event_type") =!= "error")
      .groupBy(col("event_type"))
      .agg((count(lit(1)).cast("double") / lit(720.0)).as("expected_cnt"))
    val got = graft.streaming.StreamReplay
      .eventsVolumeAnomaly(spark, events, expected).collect().toSeq
    val ratio = col("cnt").cast("double") / col("expected_cnt")
    val want = events
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts").cast("timestamp")).as("window_start"))
      .agg(count(lit(1)).as("cnt"))
      .join(expected, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("window_start"), col("cnt"),
        col("expected_cnt"),
        when(col("expected_cnt") > 0, floor(ratio * lit(1e6)).cast("long"))
          .as("ratio_1e6"),
        when(col("expected_cnt") > 0, ratio < 0.5 || ratio > 2.0)
          .otherwise(lit(false)).as("is_anomaly"))
      .orderBy("event_type", "window_start").collect().toSeq
    assert(got == want, s"stream volume diverged: ${got.size} vs ${want.size}")
    // the 'error' group rides the NULL-expected path and is NOT dropped
    assert(want.exists(r => r.getString(0) == "error" && r.isNullAt(3)))
    assert(want.exists(_.getBoolean(5)), "fixture must contain real anomalies")
  }

  test("replay stream-stream correlate == batch interval self-join") {
    val got = graft.streaming.StreamReplay
      .eventsCorrelate(spark, events, "error", "purchase").collect().toSeq
    val e = events.withColumn("ts", col("ts").cast("timestamp"))
    val l = e.filter(col("event_type") === "error")
      .select(col("user_id").as("__lk"), col("ts").as("l_ts"),
        col("event_id").as("left_id"))
    val r = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("__rk"), col("ts").as("r_ts"),
        col("event_id").as("right_id"))
    val want = l.join(r,
        col("__lk") === col("__rk") &&
          col("r_ts") >= col("l_ts") - expr("INTERVAL 24 hours") &&
          col("r_ts") <= col("l_ts"))
      .select(col("__lk").as("user_id"), col("left_id"), col("l_ts"),
        col("right_id"), col("r_ts"))
      .orderBy("left_id", "right_id").collect().toSeq
    assert(got == want, s"stream correlate diverged: ${got.size} vs ${want.size}")
    assert(want.nonEmpty, "fixture must contain real correlations")
  }

  test("replay correlate of input with neither event type: empty, typed frame") {
    val got = graft.streaming.StreamReplay
      .eventsCorrelate(spark, events, "__no_such_type", "__nor_this")
    assert(got.columns.toSeq === Seq("user_id", "left_id", "l_ts", "right_id", "r_ts"))
    assert(got.schema("l_ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(got.collect().isEmpty)
  }

  test("replay session windows == batch gaps-and-islands on real events") {
    import org.apache.spark.sql.expressions.Window
    val got = graft.streaming.StreamReplay
      .eventsSessionCounts(spark, events).collect().toSeq
    // independent batch twin: lag + running-sum islands (NOT session_window,
    // so the test pins Spark's merge rule against first principles)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMs = 24L * 3600 * 1000
    val e = events.withColumn("ts", col("ts").cast("timestamp"))
    val want = e
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("ts").cast("long") - col("__prev").cast("long") >= gapMs / 1000, 1L)
        .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        max(col("ts")).as("__maxts"))
      .select(col("user_id"), col("session_start"),
        timestamp_micros(unix_micros(col("__maxts")) + lit(gapMs * 1000))
          .as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(got == want, s"stream sessions diverged: ${got.size} vs ${want.size}")
    // non-degenerate: multi-event sessions exist
    assert(want.exists(_.getLong(3) > 1L))
    assert(want.size > want.map(_.getLong(0)).distinct.size, "multiple sessions per user expected")
  }

  test("replay windowed KS drift == per-window batch histograms vs reference") {
    val ref = graft.checks.Drift.histogram(events, "value", 0.0, 256.0, 8)
    val got = graft.streaming.StreamReplay
      .eventsWindowedDrift(spark, events, ref).collect().toSeq
      .map(r => (r.getTimestamp(0), r.getLong(1)))
    val days = events
      .select(date_trunc("day", col("ts").cast("timestamp")).as("d"))
      .distinct().orderBy("d").collect().map(_.getTimestamp(0)).toSeq
    val want = days.map { d =>
      val wh = graft.checks.Drift.histogram(
        events.filter(date_trunc("day", col("ts").cast("timestamp")) === d),
        "value", 0.0, 256.0, 8)
      (d, math.floor(graft.checks.Drift.ks(ref, wh) * 1e4).toLong)
    }
    assert(got == want, s"stream drift diverged: ${got.size} vs ${want.size}")
    assert(want.exists(_._2 > 0L), "degenerate fixture: all-zero KS")
  }
}
