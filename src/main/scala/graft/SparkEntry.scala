package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.checks._
import graft.mart.Mart
import graft.model._
import graft.ops.{AsOf, Dedup, EditDistance, Sampling, Similarity, TextAnalysis}

/** Driver contract — each `queries` entry exercises one engine operator
  * (SURVEY.md §2) over the driver's TPC-H-ish parquet testdata, with a
  * DuckDB oracle twin in `oracleSql` (the engine's analogue of the
  * reference's cross-tool agreement runs, `etl_validation/runner.py`).
  *
  * Determinism rules for the oracle compare:
  *  - every multi-row result carries a total ORDER BY;
  *  - double aggregates go through DECIMAL(18,2) (exact, order-independent)
  *    and are cast back to DOUBLE;
  *  - DuckDB SUM(int) returns HUGEINT → always CAST(... AS BIGINT).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship: full predicate-check pivot (one-scan C16 pattern) over
    * lineitem — returns one CheckOutcome row per rule. Driver smoke-checks
    * rows > 0 on sf0.001.
    */
  /** Fixture dir the driver smoke-checks entry() against (shared with
    * EntrySpec so the smoke test exercises the same path). */
  val SmokeSfDir = "/root/testdata/sf0.001"

  def entry(spark: SparkSession): DataFrame = {
    val dir = SmokeSfDir
    val li = t(spark, dir, "lineitem")
    val checks = Seq(
      Check("qty_range", RuleGroup.OutOfRange, Severity.Error,
        col("l_quantity") < 1 || col("l_quantity") > 50),
      Check("discount_range", RuleGroup.OutOfRange, Severity.Error,
        col("l_discount") < 0 || col("l_discount") > 0.2),
      Check("shipdate_not_null", RuleGroup.MissingValues, Severity.Error,
        col("l_shipdate").isNull),
      Check("price_positive", RuleGroup.SqlConstraint, Severity.Error,
        col("l_extendedprice") <= 0))
    val outcomes = CheckCompiler.run(li, checks)
    spark.createDataFrame(outcomes)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C16 single-pass multi-check pivot (specs.py:421-426)
    "q_check_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("qty_viol"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L).otherwise(0L)).as("disc_viol"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("nullship_viol"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("negprice_viol"),
        count(lit(1)).as("total_rows"))
    }),

    // per-partition verdicts: the same one-scan pivot GROUPED by a partition
    // key — one row of violation counts per partition (north-rule
    // per-partition pass/fail, CheckCompiler.runPerPartition)
    "q_check_pivot_grouped" -> ((s, dir) => {
      val checks = Seq(
        Check("qty_viol", RuleGroup.OutOfRange, Severity.Error,
          col("l_quantity") < 1 || col("l_quantity") > 45),
        Check("disc_viol", RuleGroup.OutOfRange, Severity.Error,
          col("l_discount") < 0 || col("l_discount") > 0.08),
        Check("negprice_viol", RuleGroup.SqlConstraint, Severity.Error,
          col("l_extendedprice") <= 0))
      CheckCompiler.runPerPartition(t(s, dir, "lineitem"), checks, "l_returnflag")
        .orderBy(col("l_returnflag"))
    }),

    // fail_sql twin: violation rows for a range check (specs.py:72-109)
    "q_range_violation_rows" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 49)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // domain/value-set check (match_status_valid.py:17-29)
    "q_domain_check" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus"))
    }),
    "q_domain_violations" -> ((s, dir) => {
      t(s, dir, "orders").agg(
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("status_viol"),
        sum(when(!col("o_orderpriority").rlike("^[1-5]-"), 1L).otherwise(0L)).as("priority_viol"))
    }),

    // duplicate detection, plain + salted two-phase (uniqueness_suite)
    "q_uniqueness_dup_keys" -> ((s, dir) => {
      Uniqueness.duplicateKeys(t(s, dir, "lineitem"), Seq("l_orderkey"))
        .orderBy(col("l_orderkey"))
    }),
    "q_uniqueness_salted" -> ((s, dir) => {
      Uniqueness.duplicateKeysSalted(t(s, dir, "lineitem"), Seq("l_orderkey"))
        .orderBy(col("l_orderkey"))
    }),
    "q_uniqueness_pk" -> ((s, dir) => {
      Uniqueness.duplicateKeys(t(s, dir, "orders"), Seq("o_orderkey"))
        .agg(count(lit(1)).as("dup_keys"))
    }),

    // referential FK probes (fact_match_fk.py) — 4 anti-join counts, one row
    "q_referential_orphans" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer"); val ev = t(s, dir, "events")
      val sup = t(s, dir, "supplier"); val nat = t(s, dir, "nation")
      val a = Referential.orphans(li, ord, Seq("l_orderkey"), Seq("o_orderkey"))
        .agg(count(lit(1)).as("li_orphans"))
      val b = Referential.orphans(ord, cust, Seq("o_custkey"), Seq("c_custkey"))
        .agg(count(lit(1)).as("ord_orphans"))
      val c = Referential.orphans(ev, cust, Seq("user_id"), Seq("c_custkey"))
        .agg(count(lit(1)).as("ev_orphans"))
      val d = Referential.orphans(sup, nat, Seq("s_nationkey"), Seq("n_nationkey"))
        .agg(count(lit(1)).as("sup_orphans"))
      a.crossJoin(b).crossJoin(c).crossJoin(d)
    }),

    // source completeness/exclusivity reconciliation (matches_source.py)
    "q_reconcile" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(col("o_orderkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"))
      val m = Reconcile.missing(ord, li, Seq("o_orderkey")).agg(count(lit(1)).as("missing_keys"))
      val e = Reconcile.extra(ord, li, Seq("o_orderkey")).agg(count(lit(1)).as("extra_keys"))
      m.crossJoin(e)
    }),
    "q_reconcile_missing_rows" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(col("o_orderkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"))
      Reconcile.missing(ord, li, Seq("o_orderkey")).orderBy(col("o_orderkey"))
    }),

    // per-column stats profile (completeness suite + mart min/max + HLL)
    "q_stats_orders" -> ((s, dir) => {
      // TWO countDistinct groups in one aggregate would plan an Expand
      // (every row tripled before the shuffle — the scan-multiplying shape
      // PlanGuardSpec bans); one distinct group per aggregate keeps each
      // on the Expand-free planAggregateWithOneDistinct path, and the
      // one-row results meet in a broadcast nested-loop join
      val orders = t(s, dir, "orders")
      val base = orders.agg(
        count(lit(1)).as("cnt"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("custkey_nulls"),
        countDistinct(col("o_custkey")).as("custkey_distinct"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).cast("date").as("min_date"),
        max(col("o_orderdate")).cast("date").as("max_date"))
      val status = orders.agg(
        countDistinct(col("o_orderstatus")).as("status_distinct"))
      base.crossJoin(broadcast(status))
        .select(col("cnt"), col("custkey_nulls"), col("custkey_distinct"),
          col("status_distinct"), col("min_price"), col("max_price"),
          col("min_date"), col("max_date"))
    }),

    // grouped stats with exact decimal sums (mart_views.sql aggregates)
    "q_group_stats" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment")).agg(
          count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("c_mktsegment"))
    }),
    "q_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // cross-column arithmetic invariant (standings_points_consistency.py)
    "q_cross_column" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        sum(when(col("l_extendedprice") * (lit(1) - col("l_discount")) < 0, 1L).otherwise(0L))
          .as("neg_revenue"),
        sum(when(col("l_tax") < 0 || col("l_tax") > 0.2, 1L).otherwise(0L)).as("tax_viol"))
    }),

    // unpivot + two-level aggregate with the dim join + range filter
    // (season_round_robin.py:20-64 — J5: the probe joins dim_season and
    // filters the date window before unpivoting)
    "q_setop_round_robin" -> ((s, dir) => {
      val seg = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
      val o = ord.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("k"), lit(1L).as("is_o"), lit(0L).as("is_f"))
      val f = ord.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"), lit(0L).as("is_o"), lit(1L).as("is_f"))
      o.unionByName(f).groupBy(col("k"))
        .agg(sum(col("is_o")).as("o_cnt"), sum(col("is_f")).as("f_cnt"))
        .filter(col("o_cnt") =!= col("f_cnt"))
        .agg(count(lit(1)).as("unbalanced"))
    }),

    // exact dedup by key (duplicate_records group)
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicates(t(s, dir, "events"), Seq("user_id", "event_type"))
        .orderBy(col("dup_count").desc, col("user_id"), col("event_type"))
        .limit(100)
    }),

    // content fingerprint dedup (md5 — portable to the oracle)
    "q_fingerprint_dedup" -> ((s, dir) => {
      t(s, dir, "documents").agg(
        countDistinct(md5(col("text"))).as("distinct_docs"),
        count(lit(1)).as("total_docs"))
    }),

    // text profile per language (token counting + char stats)
    "q_text_profile" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("sum_tokens"))
        .orderBy(col("lang"))
    }),

    // golden-snapshot diff (report.py:538-662) — two derived snapshots
    "q_snapshot_diff" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val snapA = ord.filter(col("o_totalprice") > 100000)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val snapB = ord.filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey"),
          (col("o_totalprice") + when(col("o_orderstatus") === "P", 1.0).otherwise(0.0))
            .as("o_totalprice"),
          col("o_orderstatus"))
      Reconcile.diff(snapA, snapB, Seq("o_orderkey"), Seq("o_totalprice"))
        .groupBy(col("diff_kind")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("diff_kind"))
    }),

    // EXACT interpolated quantiles via the distributed rank-select operator
    // (range-partition + per-partition counts + indexed extraction,
    // checks/Quantiles.scala) — never buffers a whole group in one
    // aggregation buffer like SQL `percentile` would (oracle = quantile_cont)
    "q_quantiles" -> ((s, dir) => {
      import s.implicits._
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      // two independent rank-select computations — overlap their jobs
      // (Mart.runChecks pattern) instead of serializing the two tables
      val (median, qty) = graft.Settle(
        ExactQuantiles.quantiles(t(s, dir, "orders"), "o_totalprice", Seq(0.5)).head,
        ExactQuantiles.quantiles(t(s, dir, "lineitem"), "l_quantity",
          Seq(0.25, 0.5, 0.75, 0.95)))
      Seq((r4(median), r4(qty(0)), r4(qty(1)), r4(qty(2)), r4(qty(3))))
        .toDF("price_median", "qty_p25", "qty_p50", "qty_p75", "qty_p95")
    }),

    // embedding-cosine near-duplicate pairs, brute-force exact (ANN verify twin)
    "q_embed_pairs" -> ((s, dir) => {
      Similarity.cosinePairsBrute(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // embedding-space duplicate CLUSTERS: connected components over the
    // exact cosine pair graph (same clustering operator as q_dup_clusters,
    // embedding modality; pair stage == the oracle-checked q_embed_pairs)
    "q_embed_clusters" -> ((s, dir) => {
      val pairs = Similarity.cosinePairsBrute(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("vec_id"), col("component"))
        .orderBy(col("vec_id"))
    }),

    // tumbling-window aggregation (streaming-shaped, run in batch; the true
    // readStream path is graft.streaming, tested with MemoryStream)
    "q_window_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(col("w.start").as("ws"), col("cnt"), col("errors"), col("sum_value"))
        .orderBy(col("ws"))
    }),

    // STREAMING twin under the batch oracle: the events table replayed in
    // (ts, event_id) order through a bounded MemoryStream into
    // StreamingValidation.windowedCheckCounts (event-time tumbling windows
    // + watermark + append mode, sentinel-flushed) — in-order replay drops
    // nothing, so the streamed per-window pivot must equal the batch
    // GROUP BY the DuckDB oracle computes (graft.streaming.StreamReplay)
    "q_stream_window_counts" -> ((s, dir) => {
      val checks = Seq(
        Check("neg_value", RuleGroup.OutOfRange, Severity.Error,
          col("value") < 0),
        Check("short_props", RuleGroup.SqlConstraint, Severity.Warning,
          length(col("props")) < 10))
      graft.streaming.StreamReplay.eventsWindowCounts(
        s, t(s, dir, "events"), checks,
        windowDur = "1 hour", watermarkDelay = "30 minutes", batches = 4)
    }),

    // streaming exact dedup (dropDuplicatesWithinWatermark) replayed over
    // the batch events table: exactly one survivor per (user, type, hour)
    // key == batch DISTINCT (StreamReplay.eventsDedupDistinct)
    "q_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamReplay.eventsDedupDistinct(
        s, t(s, dir, "events"), watermarkDelay = "2 hours", batches = 4)),

    // stream-static referential check (broadcast dim, left-anti) replayed:
    // violations == the batch anti-join row-for-row. The dim is the
    // customer table minus every 7th key, so real orphans exist.
    "q_stream_fk" -> ((s, dir) => {
      // cached: the stream-static dim is re-planned every micro-batch
      val dim = t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 0)
        .select("c_custkey").cache()
      try graft.streaming.StreamReplay.eventsFkViolations(
        s, t(s, dir, "events"), dim,
        fkCol = "user_id", dimKeyCol = "c_custkey", batches = 4)
      finally dim.unpersist()
    }),

    // stateless per-row violation stream (the fail_sql analogue) replayed:
    // each violating row tagged with its check names in check order ==
    // the batch filter + CASE (StreamingValidation.violations)
    "q_stream_violations" -> ((s, dir) => {
      val checks = Seq(
        Check("value_hi", RuleGroup.OutOfRange, Severity.Error,
          col("value") > 200),
        Check("props_tiny", RuleGroup.SqlConstraint, Severity.Warning,
          length(col("props")) <= 8))
      graft.streaming.StreamReplay.eventsRowViolations(
        s, t(s, dir, "events"), checks, batches = 4)
    }),

    // mapGroupsWithState running per-key verdicts (Update mode) replayed:
    // the monotone (rows_seen, rows_failed) counters' max over all emitted
    // updates == the final state == the batch GROUP BY
    "q_stream_verdicts" -> ((s, dir) =>
      graft.streaming.StreamReplay.eventsRunningVerdicts(
        s, t(s, dir, "events"), violation = col("value") > 200, batches = 4)),

    // stream-static volume anomaly: per-(event_type, hour-window) counts
    // joined to a static expected profile (count/720 hourly mean; 'error'
    // deliberately absent → NULL-ratio pass-through path is exercised)
    "q_stream_volume" -> ((s, dir) => {
      val events = t(s, dir, "events")
      // cache the static side: a stream-static join re-executes the static
      // plan EVERY micro-batch — without this the expected-profile
      // aggregate rescans the parquet once per trigger
      val expected = events.filter(col("event_type") =!= "error")
        .groupBy(col("event_type"))
        .agg((count(lit(1)).cast("double") / lit(720.0)).as("expected_cnt"))
        .cache()
      try graft.streaming.StreamReplay.eventsVolumeAnomaly(
        s, events, expected,
        windowDur = "1 hour", watermarkDelay = "30 minutes", batches = 4)
      finally expected.unpersist() // replay already materialized the sink
    }),

    // STREAM-STREAM self-join (watermarked interval join, state = events
    // inside the lookback horizon): each error correlated to the same
    // user's purchases in the trailing 24h == the batch range self-join
    "q_stream_correlate" -> ((s, dir) =>
      graft.streaming.StreamReplay.eventsCorrelate(
        s, t(s, dir, "events"), leftType = "error", rightType = "purchase",
        lookback = "24 hours", watermarkDelay = "1 hour", batches = 4)),

    // streaming gap-sessionization (session_window, state = open sessions):
    // replayed sessions == batch gaps-and-islands (new session at gap>=24h)
    "q_stream_sessions" -> ((s, dir) =>
      graft.streaming.StreamReplay.eventsSessionCounts(
        s, t(s, dir, "events"),
        gap = "24 hours", watermarkDelay = "1 hour", batches = 4)),

    // streaming windowed KS drift vs a static reference histogram (8 bins
    // over [0,256), width 32 = power of two for IEEE-exact bin edges):
    // per-day window histograms aggregated in the state store, KS = max
    // |cdf diff| — order-independent doubles the oracle recomputes exactly
    "q_stream_drift" -> ((s, dir) => {
      val ref = graft.checks.Drift.histogram(
        t(s, dir, "events"), "value", lo = 0.0, hi = 256.0, bins = 8)
      graft.streaming.StreamReplay.eventsWindowedDrift(
        s, t(s, dir, "events"), ref,
        windowDur = "1 day", watermarkDelay = "1 hour", batches = 4)
    }),

    // gap-based sessionization (lag window + running sum)
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("epoch_s", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("gap_s", col("epoch_s") - lag(col("epoch_s"), 1).over(w))
        .withColumn("new_session",
          when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("sessions"), count(lit(1)).as("events"))
        .orderBy(col("user_id"))
    }),

    // top-N per group (rank window function)
    "q_topn_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderstatus"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderstatus"), col("rn"))
    }),

    // JSON field extraction + aggregation (reference §2.9 jsonb ops:
    // response_json->>'k' casts, load_dds.py:18-176)
    "q_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("cnt"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("k_nulls"),
          sum(col("k").cast("long")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // explode / lateral-view over split arrays (T7 double-explode analogue)
    "q_token_freq" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(50)
    }),

    // Gopher-style repetition filters: duplicate-word fraction + top-token
    // share per doc (TextAnalysis.repetitionProfile — one explode + two
    // hash aggregates, linear in token volume)
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionProfile(t(s, dir, "documents"), "doc_id")
        .orderBy("doc_id")),

    // per-column profile — exact twin (count/nulls/exact distinct); the
    // engine's monitoring surface uses the HLL/sketch variant
    // (ColumnStats.profile with exactDistinct=false), unit-tested for
    // tolerance in StatsDriftSpec
    "q_column_profile" -> ((s, dir) => {
      val profiles = checks.ColumnStats.profile(t(s, dir, "orders"),
        exactDistinct = true, includeQuantiles = false)
      s.createDataFrame(profiles.map(p =>
        (p.column, p.count, p.nullCount, p.approxDistinct)))
        .toDF("col_name", "cnt", "null_cnt", "distinct_cnt")
        .orderBy(col("col_name"))
    }),

    // exact n-gram Jaccard scoring operator over a deterministic pair list
    // (consecutive doc ids) — full-coverage oracle for the verification stage
    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // language-ID heuristic vs labeled lang
    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // quality scoring profile; quality emitted as floor(raw*1e4) so the
    // oracle compare is exact-integer (round() implementations differ in
    // edge cases across engines; floor of the identical double cannot)
    "q_text_quality" -> ((s, dir) => {
      val txt = col("text")
      // documents arrives as ONE parquet split: without a spread the whole
      // regex-heavy scoring pass runs in a single task (guide §2.5 input
      // skew — fix: repartition immediately after the read; per-row values
      // are partitioning-independent and the total ORDER BY stands)
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism * 2)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(txt).as("n_tokens"),
          TextAnalysis.subwordCount(txt).as("n_subwords"),
          floor(TextAnalysis.qualityScoreRaw(txt) * 10000).as("quality_1e4"))
        .orderBy(col("doc_id"))
    }),

    // full near-dup pipeline: MinHash signatures → banded LSH candidates →
    // exact n-gram Jaccard ≥ 0.6. With 64 hashes / 32 bands (r=2) the band
    // recall at j≥0.6 is 1−(1−0.36)³² ≈ 1−6e-7, so the output equals the
    // brute-force truth — which is exactly what the DuckDB oracle computes
    "q_minhash_pairs" -> ((s, dir) => {
      Dedup.nearDuplicatesExact(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, numHashes = 64, bands = 32)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // near-duplicate CLUSTERS: connected components over the exact-verified
    // pair graph (transitive a~b, b~c ⇒ {a,b,c}), component = min doc_id —
    // the deterministic canonical representative a cluster-dedup keeps
    "q_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.nearDuplicatesExact(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.6, numHashes = 64, bands = 32)
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),

    // cross-corpus DECONTAMINATION: every (training, benchmark) near-dup
    // pair across the even/odd doc_id split — the exact-verified
    // corpus×probe bucket join (never a self-join); bands=32/r=2 keeps the
    // output equal to brute-force truth at j>=0.6
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusPairs(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // quality-aware cluster dedup: keep the max-quality member per
    // near-dup cluster (ties: min doc_id), singletons untouched — the
    // survivor policy a training pipeline wants; score = the same
    // floor(quality*1e4) integer the q_text_quality oracle proves
    "q_dedup_best" -> ((s, dir) => {
      Dedup.dedupNearDuplicatesBy(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.6,
          score = floor(TextAnalysis.qualityScoreRaw(col("text")) * 10000))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // J3 union-of-probes: several FK anti-join probes over one fact, each
    // orphan set tagged with ref_type (specs.py:189-239)
    "q_ref_multiprobe" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Referential.multiProbe(li, Seq(
        ("order_fk", t(s, dir, "orders"), Seq("l_orderkey"), Seq("o_orderkey")),
        ("part_fk", t(s, dir, "part"), Seq("l_partkey"), Seq("p_partkey")),
        ("supplier_fk", t(s, dir, "supplier"), Seq("l_suppkey"), Seq("s_suppkey"))),
        keyCols = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("ref_type")).agg(count(lit(1)).as("orphans"))
        .orderBy(col("ref_type"))
    }),

    // declared-schema validation (V3–V8): required/type/minLength rules
    // compiled from a SchemaSpec and evaluated in ONE scan via the
    // CheckCompiler pivot (schema_suite/matches_schema.py:9-66)
    "q_schema_check" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val ev = t(s, dir, "events")
        .withColumn("k_raw", get_json_object(col("props"), "$.k"))
      val spec = SchemaSpec(Seq(
        FieldSpec("event_id", LongType),
        FieldSpec("ts", TimestampType),
        FieldSpec("user_id", LongType),
        FieldSpec("event_type", StringType, minLength = Some(5)),
        FieldSpec("value", DoubleType),
        FieldSpec("props", StringType, minLength = Some(2)),
        FieldSpec("k_raw", IntegerType, required = false)))
      val outs = CheckCompiler.run(ev, SchemaCheck.compile(ev, spec))
      s.createDataFrame(outs.map(o => (o.checkName, o.rowsFailed)))
        .toDF("check_name", "rows_failed")
        .orderBy(col("check_name"))
    }),

    // mart KPI view: outcome CASE ladder + COALESCE year chain + NULLIF
    // divide-guard rates (mart_views.sql:51-80)
    "q_mart_kpi" -> ((s, dir) =>
      Mart.orderSeasonKpi(t(s, dir, "orders"), t(s, dir, "lineitem"),
          t(s, dir, "customer"))
        .orderBy(col("c_mktsegment"), col("season_year"))),

    // mart unpivot view: UNION ALL party rows (mart_views.sql:126-150)
    "q_mart_party" -> ((s, dir) =>
      Mart.partySeasonResults(t(s, dir, "orders"), t(s, dir, "lineitem"))
        .orderBy(col("role"), col("party_id"), col("season_year"))),

    // L-stage checks over the derived views (C9–C11, specs.py:264-331)
    "q_mart_checks" -> ((s, dir) => {
      val kpi = Mart.orderSeasonKpi(t(s, dir, "orders"), t(s, dir, "lineitem"),
        t(s, dir, "customer"))
      val party = Mart.partySeasonResults(t(s, dir, "orders"), t(s, dir, "lineitem"))
      val outs = Mart.runChecks(kpi, party)
      s.createDataFrame(outs.map(o => (o.checkName, o.rowsFailed)))
        .toDF("check_name", "rows_failed")
        .orderBy(col("check_name"))
    }),

    // T4 union-of-two-sources load with first-writer-wins dedupe
    // (load_dds.py:76-108), made deterministic via source priority
    "q_union_dedupe" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("cust_id"), lit(1).as("prio"))
      val b = t(s, dir, "customer").select(col("c_custkey").as("cust_id"), lit(2).as("prio"))
      a.unionByName(b)
        .groupBy(col("cust_id")).agg(min(col("prio")).as("won_by"))
        .groupBy(col("won_by")).agg(count(lit(1)).as("n_keys"))
        .orderBy(col("won_by"))
    }),

    // T7 double explode — two Generators / lateral-view nesting
    // (load_dds.py:150-176 standings[] × table[])
    "q_double_explode" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .select(col("tok"), explode(split(col("tok"), "")).as("ch"))
        .filter(col("ch") =!= "") // split(limit=-1) keeps a trailing ""
        .groupBy(col("ch")).agg(count(lit(1)).as("freq"))
        .orderBy(col("ch"))
    }),

    // per-run summary rollup with STDDEV (A9, run_manual_experiments.py:360-381);
    // avg/stddev derived from exact DECIMAL sums so the result is
    // order-independent at any parallelism
    "q_group_stats_stddev" -> ((s, dir) => {
      val price = col("o_totalprice").cast(DecimalType(18, 2))
      val agged = t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("cnt"),
        sum(price).as("s1"),
        sum(price * price).as("s2"))
      agged.select(
        col("o_orderstatus"),
        col("cnt"),
        round(col("s1").cast("double") / col("cnt"), 4).as("avg_price"),
        round(sqrt(col("s2").cast("double") / col("cnt") -
          (col("s1").cast("double") / col("cnt")) *
            (col("s1").cast("double") / col("cnt"))), 4).as("stddev_pop_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // SimHash near-duplicates with the signatures in the output row. The
    // md5-derived 60-bit token hash is recomputable from the hex string in
    // DuckDB, so the oracle independently rebuilds every signature and the
    // full hamming<=3 pair set — banding is exact for hamming<=3
    // (pigeonhole over 4 chunks), and the audit config lifts the bucket
    // cap (the DuckDB twin is all-pairs, so a capped >1000-member
    // boilerplate cluster would otherwise read as a spurious mismatch);
    // web-scale runs keep the default cap
    "q_simhash_pairs" -> ((s, dir) => {
      Dedup.nearDuplicatesSimhashSigs(t(s, dir, "documents"), "doc_id", "text",
          maxBucket = Int.MaxValue,
          tokenHash = Dedup.TokenHash.Md5Hash60, bits = 60)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // brute-force cosine top-k (ANN baseline)
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toSeq
      Similarity.topK(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
        .withColumn("cosine", round(col("cosine"), 4))
    }),

    // IVF ANN with exhaustive probe (nprobe == k): exact brute-force parity
    // through the clustered index machinery — the audit twin of the
    // partition-pruned nprobe<k serving path (unit-tested for recall)
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") =!= 0)
      // the query-vector fetch and the k-means training are independent
      // driver actions — overlap them (Mart.runChecks' concurrent-jobs
      // pattern) instead of serializing two tiny jobs
      val (q, model) = graft.Settle(
        emb.filter(col("vec_id") === 0).select(col("embedding"))
          .head().getSeq[Float](0).toSeq,
        graft.ops.Ivf.train(base, "vec_id", "embedding", k = 8, iters = 1))
      graft.ops.Ivf.topK(graft.ops.Ivf.assign(base, "embedding", model),
          "vec_id", "embedding", q, model, k = 10, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
    }),

    // LSH-bucketed ANN with exhaustive probe (probeRadius = planes): exact
    // brute-force parity THROUGH the index machinery — signature, bucket
    // filter, re-rank — the q_ann_ivf nprobe=k audit pattern. The pruned
    // serving radii can't be oracle-exact on this corpus: its "top" ANN
    // neighbors sit at cosine ≈ 0.28–0.37 (θ ≈ 73°), where hyperplane bits
    // agree ~0.6 per plane and NO partial probe set deterministically
    // recalls all ten (measured: radius 4 of 12 planes scans 40% of rows
    // for 7/10). Genuine close-pair recall at radius 1 is pinned by
    // OpsSpec's planted-neighbor test instead
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toSeq
      Similarity.topKLsh(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          q, 10, planes = 12, probeRadius = 12)
        .withColumn("cosine", round(col("cosine"), 4))
    }),

    // as-of temporal lookup join: per click event, the latest view event
    // at-or-before it for the same user (single union+window pass, no
    // inequality-join intermediate — AsOf.asofJoin)
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("value").as("view_value"))
      AsOf.asofJoin(clicks, views, "user_id", "ts", "view_ts",
          Seq("view_ts", "view_value"))
        .orderBy(col("event_id"))
    }),

    // skew-safe as-of variant: identical semantics at (key, time-bucket)
    // parallelism — per-bucket windows + boundary carry, so one hot entity
    // key never serializes a window partition (AsOf.asofJoinBucketed);
    // same DuckDB ASOF JOIN oracle as q_asof_join
    "q_asof_bucketed" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("value").as("view_value"))
      AsOf.asofJoinBucketed(clicks, views, "user_id", "ts", "view_ts",
          Seq("view_ts", "view_value"), buckets = 16)
        .orderBy(col("event_id"))
    }),

    // SCD-2 interval integrity: rows whose [s, e) interval overlaps ANY
    // prior interval of the same user (running-max window, mixed interval
    // lengths — Temporal.overlapsAnyPrior)
    "q_interval_overlaps" -> ((s, dir) => {
      val iv = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("ts").as("s"),
        expr("timestampadd(MINUTE, CAST(event_id % 7 + 1 AS INT), ts)").as("e"))
      Temporal.overlapsAnyPrior(iv, col("user_id"), col("s"), col("e"),
          col("event_id"))
        .select("event_id", "user_id")
        .orderBy(col("event_id"))
    }),

    // robust per-group outlier profile: exact rank-select median/MAD,
    // nothing buffers a whole group (Outliers.madOutliers)
    "q_mad_outliers" -> ((s, dir) => {
      Outliers.madOutliers(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", nSigma = 1.0)
        .orderBy(col("l_returnflag"))
    }),

    // exact-decimal-moment Pearson correlations, all pairs in ONE scan
    // (Moments.corrProfile)
    "q_corr_profile" -> ((s, dir) =>
      Moments.corrProfile(t(s, dir, "lineitem"),
        Seq(("l_quantity", "l_extendedprice"), ("l_discount", "l_tax")))),

    // two-sample chi-square homogeneity terms over a categorical column,
    // exact counts in one grouped scan (Drift.chiSquareCategorical)
    "q_chisq_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Drift.chiSquareCategorical(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "event_type")
        .orderBy(col("category"))
    }),

    // per-bin PSI drift terms over a numeric column on a shared power-of-2
    // grid (8 bins over [0,256), width 32 — IEEE-exact edges); the ordered
    // log-term SUM stays driver-side, the per-bin terms are the oracled
    // decomposition (Drift.psiTerms — closes the last unoracled statistic)
    "q_psi_terms" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Drift.psiTerms(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "value",
          lo = 0.0, hi = 256.0, bins = 8)
        .orderBy(col("bin"))
    }),

    // per-group Wasserstein-1 terms (Drift.groupedEmdTerms) — EMD's
    // per-group decomposition on the same family grid: one row per
    // (event_type, bin), dense (empty bins carry the persisting CDF gap)
    "q_grouped_emd" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Drift.groupedEmdTerms(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "event_type", "value",
          lo = 0.0, hi = 256.0, bins = 8)
        .orderBy(col("grp"), col("bin"))
    }),

    // SPLIT-BALANCE validation — composition of the engine-portable
    // md5-nibble split (Sampling.samplePortable's predicate, 8/16 per
    // side) with per-group KS (Drift.groupedKs): after a deterministic
    // train/test split, the two sides must be distributionally
    // indistinguishable within every stratum — the parity gate a training
    // pipeline runs BEFORE trusting a split. NULL event_id hashes to a
    // NULL nibble and drops from both sides on both engines
    "q_split_balance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val nib = substring(md5(col("event_id").cast("string")), 1, 1)
      Drift.groupedKs(ev.filter(nib < "8"), ev.filter(nib >= "8"),
          "event_type", "value", lo = 0.0, hi = 256.0, bins = 8)
        // the frozen DuckDB twin leaves SUM(cnt_ref)/SUM(cnt_cand) uncast
        // (HUGEINT → Arrow decimal128(38,0)); match its wire type exactly
        .select(col("grp"),
          col("n_ref").cast(DecimalType(38, 0)).as("n_ref"),
          col("n_cand").cast(DecimalType(38, 0)).as("n_cand"),
          col("ks_1e6"))
        .orderBy(col("grp"))
    }),

    // PER-GROUP KS drift verdicts (Drift.groupedKs) — the north rule's
    // per-partition pass/fail shape: one row per event_type with the KS
    // statistic between even/odd event halves on the shared [0,256)/8
    // grid. KS = max of |CDF gap| values, order-independent, so the
    // STATISTIC itself is oracled, not just a decomposition
    "q_grouped_ks" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Drift.groupedKs(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "event_type", "value",
          lo = 0.0, hi = 256.0, bins = 8)
        // match the frozen twin's uncast SUM type (decimal128(38,0))
        .select(col("grp"),
          col("n_ref").cast(DecimalType(38, 0)).as("n_ref"),
          col("n_cand").cast(DecimalType(38, 0)).as("n_cand"),
          col("ks_1e6"))
        .orderBy(col("grp"))
    }),

    // per-bin Wasserstein-1 (earth-mover) drift terms on a power-of-2 grid
    // (32 bins over [0, 131072), width 4096 — IEEE-exact edges); the |CDF
    // gap|·width terms are integer-exact cumulative counts plus one
    // divide/subtract/abs/multiply, so the whole statistic is oracled
    // (Drift.emdTerms — the shift-distance-sensitive complement to KS/PSI)
    "q_emd_drift" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Drift.emdTerms(
          li.filter(col("l_returnflag") === "A"),
          li.filter(col("l_returnflag") === "R"), "l_extendedprice",
          lo = 0.0, hi = 131072.0, bins = 32)
        .orderBy(col("bin"))
    }),

    // Benford first-significant-digit profile (Drift.benfordProfile)
    "q_benford" -> ((s, dir) =>
      Drift.benfordProfile(t(s, dir, "orders"), "o_totalprice")
        .orderBy(col("digit"))),

    // exact heavy hitters: Misra-Gries candidate sketch + exact recount,
    // integer threshold test (HeavyHitters.heavyHitters)
    "q_heavy_hitters" -> ((s, dir) =>
      HeavyHitters.heavyHitters(t(s, dir, "events"), "event_type",
        num = 1, den = 5)),

    // engine-portable deterministic sample: md5 first-nibble bucket, the
    // cross-engine agreement path (Sampling.samplePortable)
    "q_sample_portable" -> ((s, dir) =>
      Sampling.samplePortable(t(s, dir, "orders"), Seq(col("o_orderkey")),
          sixteenths = 4)
        .select("o_orderkey").orderBy("o_orderkey")),

    // deterministic WEIGHTED sample (length-weighted document selection):
    // all-integer md5-32bit comparison, identical on any engine
    "q_sample_weighted" -> ((s, dir) =>
      Sampling.sampleWeightedPortable(t(s, dir, "documents"),
          Seq(col("doc_id")),
          weight = least(length(col("text")), lit(1000L)), maxWeight = 1000L)
        .select("doc_id").orderBy("doc_id")),

    // LEAKAGE-SAFE train/test split: near-dup cluster members never
    // straddle the split (the same exact-verified pair graph as
    // q_dup_clusters decides the representative; split = md5 nibble of it)
    "q_split_leakage_safe" -> ((s, dir) => {
      val pairs = Dedup.nearDuplicatesExact(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.6, numHashes = 64, bands = 32)
      Dedup.leakageSafeSplit(t(s, dir, "documents"), "doc_id", pairs,
          testSixteenths = 4)
        .orderBy("doc_id")
    }),

    // PassJoin-style edit-distance self-join over document prefixes:
    // segment blocking, complete recall, one exact levenshtein per
    // candidate (EditDistance.selfJoinPairs)
    "q_edit_distance" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 40).as("p"))
      EditDistance.selfJoinPairs(d, "doc_id", "p", k = 2)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("id_a", "id_b")
    }),

    // Shannon entropy profile per category (exact counts, per-category
    // terms so the statistic is oracle-exact — ColumnStats.entropyProfile)
    "q_entropy" -> ((s, dir) =>
      ColumnStats.entropyProfile(t(s, dir, "events"), "event_type")
        .orderBy(col("category"))),

    // stratified deterministic sample: per-priority rates on the portable
    // md5-nibble hash (Sampling.sampleStratifiedPortable)
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.sampleStratifiedPortable(t(s, dir, "orders"),
          Seq(col("o_orderkey")), col("o_orderpriority"),
          Map("1-URGENT" -> 2, "2-HIGH" -> 4), defaultSixteenths = 8)
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")),

    // EXACT prefix-filtered set-similarity join: complete-recall
    // deterministic twin of q_minhash_pairs — same brute-force oracle,
    // zero probabilistic stage (Dedup.prefixFilterPairs)
    "q_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixFilterPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // functional-dependency violations: orders whose lineitems ship on
    // more than one date (Integrity.fdViolations, Expand-free two-stage agg)
    "q_fd_violations" -> ((s, dir) =>
      Integrity.fdViolations(t(s, dir, "lineitem"), Seq("l_orderkey"), "l_shipdate")
        .orderBy("l_orderkey")),

    // per-key monotonicity verdict: is `value` non-decreasing per user in
    // (ts, event_id) order? ONE summary row (Integrity.monotonicityCheck)
    "q_monotonic" -> ((s, dir) =>
      Integrity.monotonicityCheck(t(s, dir, "events"), "user_id",
        Seq("ts", "event_id"), "value")),

    // dense-sequence gap runs per key (Integrity.sequenceGaps) — one row
    // per gap RUN, not per missing value
    "q_sequence_gaps" -> ((s, dir) =>
      Integrity.sequenceGaps(t(s, dir, "events"), Seq("user_id"), "event_id")
        .orderBy("user_id", "gap_after")),

    // format-mask profile: char-class signature histogram over the raw
    // props payload (Integrity.maskProfile)
    "q_mask_profile" -> ((s, dir) =>
      Integrity.maskProfile(t(s, dir, "events"), "props").orderBy("mask")),

    // exact per-group quantiles by rank selection, no value buffering
    // (Integrity.groupedQuantiles)
    "q_grouped_quantiles" -> ((s, dir) =>
      Integrity.groupedQuantiles(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.5, 0.9, 0.99)).orderBy("l_returnflag")),

    // embedding-column validation: per-vector dim/finiteness/zero/norm
    // profile (VectorQuality.vectorProfile, pure codegen array exprs)
    "q_vector_profile" -> ((s, dir) =>
      VectorQuality.vectorProfile(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")),

    // FD strength ratio: distinct determinants vs distinct (det, dep)
    // pairs (Integrity.fdStrength — two Expand-free distincts)
    "q_fd_strength" -> ((s, dir) =>
      Integrity.fdStrength(t(s, dir, "lineitem"), Seq("l_orderkey"),
        "l_shipdate")),

    // key-distribution concentration: the salting/AQE sizing input
    // (Skew.keySkewProfile — per-key counts + TakeOrdered top-k, no sort)
    "q_skew_profile" -> ((s, dir) =>
      Skew.keySkewProfile(t(s, dir, "lineitem"), Seq("l_partkey"), topK = 10)),

    // candidate-key discovery: per-column exact uniqueness ratio
    // (Skew.keyCandidates — one Expand-free two-phase distinct per column)
    "q_key_candidates" -> ((s, dir) =>
      Skew.keyCandidates(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus")).orderBy("col_name")),

    // ingest-volume anomaly: daily counts vs trailing-7-day average
    // (Anomaly.volumeAnomaly — day-level window, all-integer inputs)
    "q_volume_anomaly" -> ((s, dir) =>
      Anomaly.volumeAnomaly(t(s, dir, "events"), "event_type", "ts",
        lookback = 7, lo = 0.8, hi = 1.25).orderBy("event_type", "day")),

    // per-key rolling range-break rows (Anomaly.rollingRangeViolations —
    // power-of-two factors so the scaling multiply is IEEE-exact)
    "q_rolling_range" -> ((s, dir) =>
      Anomaly.rollingRangeViolations(t(s, dir, "events"), "user_id",
        Seq("ts", "event_id"), "value", lookback = 5)
        .orderBy("user_id", "ts", "event_id")),

    // CUSUM level-shift detector over each event type's normalized daily
    // volume share (x = cnt·30/total, mean 1.0 at every SF so the drift
    // literals are scale-free) — the sequential fold an oracle replays
    // exactly with a recursive CTE (Anomaly.cusumChangepoints)
    "q_cusum_shift" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val daily = events
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      val tot = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("total"))
      val norm = daily.join(tot, Seq("event_type"))
        .select(col("event_type"), col("d"),
          (col("cnt") * lit(30.0) / col("total")).as("x"))
      Anomaly.cusumChangepoints(norm, "event_type", "d", "x",
          muHi = 1.05, muLo = 0.95, threshold = 0.3)
        .orderBy("event_type", "d")
    }),

    // exact equi-width histogram over observed [min, max]
    // (ColumnStats.histogram — broadcast extrema + one bin-index agg)
    "q_histogram" -> ((s, dir) =>
      ColumnStats.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        bins = 16).orderBy("bin")),

    // survivorship merge: per-key latest-non-null per column in ONE hash
    // aggregate (Survivor.goldenRecord — argmax via max(struct(order, v)))
    "q_golden_record" -> ((s, dir) =>
      graft.ops.Survivor.goldenRecord(t(s, dir, "events"), Seq("user_id"),
        Seq("ts", "event_id"), Seq("event_type", "value")).orderBy("user_id")))

  /** DuckDB twins. Keys without an entry get the driver's rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "q_check_pivot" ->
      """SELECT CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_viol,
        |       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_viol,
        |       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nullship_viol,
        |       CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS negprice_viol,
        |       COUNT(*) AS total_rows FROM lineitem""".stripMargin,
    "q_check_pivot_grouped" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS qty_viol,
        |       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS disc_viol,
        |       CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS negprice_viol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_range_violation_rows" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 49 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_domain_check" ->
      "SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
    "q_domain_violations" ->
      """SELECT CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS status_viol,
        |       CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS priority_viol
        |FROM orders""".stripMargin,
    "q_uniqueness_dup_keys" ->
      """SELECT l_orderkey, COUNT(*) AS dup_count FROM lineitem
        |GROUP BY l_orderkey HAVING COUNT(*) > 1 ORDER BY l_orderkey""".stripMargin,
    "q_uniqueness_salted" ->
      """SELECT l_orderkey, COUNT(*) AS dup_count FROM lineitem
        |GROUP BY l_orderkey HAVING COUNT(*) > 1 ORDER BY l_orderkey""".stripMargin,
    "q_uniqueness_pk" ->
      """SELECT COUNT(*) AS dup_keys FROM
        |(SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)""".stripMargin,
    "q_referential_orphans" ->
      """SELECT
        | (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS li_orphans,
        | (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS ord_orphans,
        | (SELECT COUNT(*) FROM events e WHERE e.user_id IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS ev_orphans,
        | (SELECT COUNT(*) FROM supplier s WHERE s.s_nationkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)) AS sup_orphans""".stripMargin,
    "q_reconcile" ->
      """SELECT
        | (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL) o
        |   WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS missing_keys,
        | (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS extra_keys""".stripMargin,
    "q_reconcile_missing_rows" ->
      """SELECT DISTINCT o_orderkey FROM orders o WHERE o_orderkey IS NOT NULL
        |AND NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_stats_orders" ->
      """SELECT COUNT(*) AS cnt,
        |       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS custkey_nulls,
        |       COUNT(DISTINCT o_custkey) AS custkey_distinct,
        |       COUNT(DISTINCT o_orderstatus) AS status_distinct,
        |       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |       CAST(MIN(o_orderdate) AS DATE) AS min_date, CAST(MAX(o_orderdate) AS DATE) AS max_date
        |FROM orders""".stripMargin,
    "q_group_stats" ->
      """SELECT c_mktsegment, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_cross_column" ->
      """SELECT CAST(SUM(CASE WHEN l_extendedprice * (1 - l_discount) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_revenue,
        |       CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS tax_viol
        |FROM lineitem""".stripMargin,
    "q_setop_round_robin" ->
      """WITH seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING')),
        |ord AS (
        |  SELECT o.* FROM orders o JOIN seg ON o.o_custkey = seg.c_custkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1998-01-01' AND o.o_orderdate < TIMESTAMP '2001-01-01'
        |), u AS (
        |  SELECT o_custkey AS k, 1 AS is_o, 0 AS is_f FROM ord WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_custkey AS k, 0 AS is_o, 1 AS is_f FROM ord WHERE o_orderstatus = 'F'
        |), s AS (SELECT k, SUM(is_o) AS o_cnt, SUM(is_f) AS f_cnt FROM u GROUP BY k)
        |SELECT COUNT(*) AS unbalanced FROM s WHERE o_cnt <> f_cnt""".stripMargin,
    "q_dedup_exact" ->
      """SELECT user_id, event_type, COUNT(*) AS dup_count FROM events
        |GROUP BY user_id, event_type HAVING COUNT(*) > 1
        |ORDER BY dup_count DESC, user_id, event_type LIMIT 100""".stripMargin,
    "q_fingerprint_dedup" ->
      "SELECT COUNT(DISTINCT md5(text)) AS distinct_docs, COUNT(*) AS total_docs FROM documents",
    "q_text_profile" ->
      """SELECT lang, COUNT(*) AS cnt,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |       CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_quantiles" ->
      """SELECT ROUND((SELECT quantile_cont(o_totalprice, 0.5) FROM orders), 4) AS price_median,
        |       ROUND((SELECT quantile_cont(l_quantity, 0.25) FROM lineitem), 4) AS qty_p25,
        |       ROUND((SELECT quantile_cont(l_quantity, 0.50) FROM lineitem), 4) AS qty_p50,
        |       ROUND((SELECT quantile_cont(l_quantity, 0.75) FROM lineitem), 4) AS qty_p75,
        |       ROUND((SELECT quantile_cont(l_quantity, 0.95) FROM lineitem), 4) AS qty_p95""".stripMargin,
    "q_embed_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "q_window_events" ->
      """SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS cnt,
        |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY ws""".stripMargin,
    // batch truth for the streaming replay: hour-aligned tumbling windows
    // (Spark's window() and date_trunc are both epoch/hour aligned); the
    // in-order replay guarantees the watermark drops nothing, so the
    // streamed pivot must equal this exact GROUP BY
    // status graded from per-check severities (neg_value error → FAIL,
    // short_props warning → WARN) — the config-aware grading is oracled too
    "q_stream_window_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS rows_total,
        |       CASE WHEN SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) > 0 THEN 'FAIL'
        |            WHEN SUM(CASE WHEN length(props) < 10 THEN 1 ELSE 0 END) > 0 THEN 'WARN'
        |            ELSE 'PASS' END AS status,
        |       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_value,
        |       CAST(SUM(CASE WHEN length(props) < 10 THEN 1 ELSE 0 END) AS BIGINT) AS short_props
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin,
    // the streaming dedup keeps exactly one survivor per key (nothing is
    // late in the in-order replay; the 2h delay outlives the 1h key
    // spread, so no state eviction) — the key-projected output IS DISTINCT
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS window_start
        |FROM events ORDER BY user_id, event_type, window_start""".stripMargin,
    // stream-static FK violations == batch anti-join (null FKs exempt)
    "q_stream_fk" ->
      """SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
        |       'referential' AS check_name
        |FROM events e
        |WHERE e.user_id IS NOT NULL
        |  AND e.user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0)
        |ORDER BY e.event_id""".stripMargin,
    // stateless violation stream == batch filter; tags in check order
    "q_stream_violations" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |       CASE WHEN value > 200 AND length(props) <= 8 THEN 'value_hi,props_tiny'
        |            WHEN value > 200 THEN 'value_hi'
        |            ELSE 'props_tiny' END AS violated
        |FROM events
        |WHERE value > 200 OR length(props) <= 8
        |ORDER BY event_id""".stripMargin,
    // running-verdict final state (monotone counters) == batch GROUP BY
    "q_stream_verdicts" ->
      """SELECT CAST(user_id AS VARCHAR) AS part_id,
        |       CAST(COUNT(*) AS BIGINT) AS rows_seen,
        |       CAST(SUM(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS rows_failed,
        |       CASE WHEN SUM(CASE WHEN value > 200 THEN 1 ELSE 0 END) = 0
        |            THEN 'PASS' ELSE 'FAIL' END AS status
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY part_id""".stripMargin,
    // stream-static volume anomaly == batch hourly counts LEFT JOIN the
    // same expected profile ('error' absent → NULL ratio, FALSE flag)
    "q_stream_volume" ->
      """WITH expected AS (
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) / 720.0 AS expected_cnt
        |  FROM events WHERE event_type <> 'error' GROUP BY 1
        |),
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS window_start,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT h.event_type, h.window_start, h.cnt, x.expected_cnt,
        |       CASE WHEN x.expected_cnt > 0
        |            THEN CAST(FLOOR(CAST(h.cnt AS DOUBLE) / x.expected_cnt * 1000000.0) AS BIGINT)
        |       END AS ratio_1e6,
        |       CASE WHEN x.expected_cnt > 0
        |            THEN (CAST(h.cnt AS DOUBLE) / x.expected_cnt < 0.5
        |                  OR CAST(h.cnt AS DOUBLE) / x.expected_cnt > 2.0)
        |            ELSE false END AS is_anomaly
        |FROM hourly h LEFT JOIN expected x USING (event_type)
        |ORDER BY h.event_type, h.window_start""".stripMargin,
    // stream-stream interval self-join == batch range join
    "q_stream_correlate" ->
      """SELECT e.user_id, e.event_id AS left_id, e.ts AS l_ts,
        |       p.event_id AS right_id, p.ts AS r_ts
        |FROM events e JOIN events p
        |  ON e.user_id = p.user_id
        | AND e.event_type = 'error' AND p.event_type = 'purchase'
        | AND p.ts >= e.ts - INTERVAL 24 HOUR AND p.ts <= e.ts
        |ORDER BY left_id, right_id""".stripMargin,

    // streaming session_window == gaps-and-islands: Spark merges an event
    // into a session iff it lands strictly before last_event + gap, so a
    // NEW session starts where ts - prev_ts >= gap; end = last event + gap
    "q_stream_sessions" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 24 HOUR
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |),
        |s AS (
        |  SELECT user_id, ts,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o
        |)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 24 HOUR AS session_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // streaming KS drift: per-day window histograms (8 bins over [0,256),
    // clamped edges) vs the whole-table reference; KS = max |cdf diff|,
    // every division/abs/max identical in shape on both engines
    "q_stream_drift" ->
      """WITH v AS (
        |  SELECT LEAST(7, GREATEST(0, CAST(FLOOR((value - 0.0) / 32.0) AS INTEGER))) AS bin,
        |         date_trunc('day', ts) AS w
        |  FROM events WHERE value IS NOT NULL AND event_id % 2 IN (0, 1)
        |),
        |bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(8)),
        |ref AS (
        |  SELECT b.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM bins b LEFT JOIN (SELECT bin, COUNT(*) AS n FROM v GROUP BY 1) c USING (bin)
        |),
        |refc AS (
        |  SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum, SUM(n) OVER () AS tot FROM ref
        |),
        |wins AS (SELECT DISTINCT w FROM v),
        |wc AS (
        |  SELECT ws.w, b.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM wins ws CROSS JOIN bins b
        |  LEFT JOIN (SELECT w, bin, COUNT(*) AS n FROM v GROUP BY 1, 2) c
        |    ON c.w = ws.w AND c.bin = b.bin
        |),
        |wcc AS (
        |  SELECT w, bin, SUM(n) OVER (PARTITION BY w ORDER BY bin) AS cum,
        |         SUM(n) OVER (PARTITION BY w) AS tot FROM wc
        |)
        |SELECT wcc.w AS window_start,
        |       CAST(FLOOR(MAX(ABS(CAST(refc.cum AS DOUBLE) / CAST(refc.tot AS DOUBLE)
        |                          - CAST(wcc.cum AS DOUBLE) / CAST(wcc.tot AS DOUBLE))) * 10000.0) AS BIGINT) AS ks_1e4
        |FROM wcc JOIN refc USING (bin)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id,
        |         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        |  FROM events
        |)
        |SELECT user_id,
        |       CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
        |       COUNT(*) AS events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_token_freq" ->
      """SELECT token, COUNT(*) AS freq FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> len(x) > 0)) AS token
        |  FROM documents
        |) GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin,
    // same tokenization as q_token_freq; ratio operand order matches the
    // Spark side exactly (((sum − distinct) · 1e6) / sum on doubles)
    "q_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> len(x) > 0)) AS t
        |  FROM documents
        |), tc AS (
        |  SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |       CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       CAST(FLOOR((CAST(SUM(c) AS BIGINT) - COUNT(*)) * 1e6
        |                  / CAST(SUM(c) AS BIGINT)) AS BIGINT) AS dup_ratio_1e6,
        |       CAST(FLOOR(MAX(c) * 1e6 / CAST(SUM(c) AS BIGINT)) AS BIGINT) AS top_share_1e6
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_topn_per_group" ->
      """SELECT o_orderstatus, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin,
    "q_snapshot_diff" ->
      """WITH snapA AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000),
        |     snapB AS (SELECT o_orderkey,
        |                      o_totalprice + CASE WHEN o_orderstatus = 'P' THEN 1.0 ELSE 0.0 END AS o_totalprice
        |               FROM orders WHERE o_totalprice > 150000)
        |SELECT diff_kind, COUNT(*) AS cnt FROM (
        |  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'removed'
        |              WHEN a.o_orderkey IS NULL THEN 'added'
        |              WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
        |              ELSE 'same' END AS diff_kind
        |  FROM snapA a FULL OUTER JOIN snapB b ON a.o_orderkey = b.o_orderkey
        |) WHERE diff_kind <> 'same' GROUP BY diff_kind ORDER BY diff_kind""".stripMargin,
    "q_ref_multiprobe" ->
      """SELECT ref_type, COUNT(*) AS orphans FROM (
        |  SELECT 'order_fk' AS ref_type FROM lineitem l
        |   WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'part_fk' FROM lineitem l
        |   WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |  UNION ALL
        |  SELECT 'supplier_fk' FROM lineitem l
        |   WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |) GROUP BY ref_type ORDER BY ref_type""".stripMargin,
    "q_schema_check" ->
      """SELECT 'event_id_required' AS check_name, CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rows_failed FROM events
        |UNION ALL SELECT 'ts_required', CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'ts_type', CAST(SUM(CASE WHEN ts IS NOT NULL AND TRY_CAST(ts AS TIMESTAMP) IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'user_id_required', CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'event_type_required', CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'event_type_min_length', CAST(SUM(CASE WHEN event_type IS NOT NULL AND length(event_type) < 5 THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'value_required', CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'props_required', CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'props_min_length', CAST(SUM(CASE WHEN props IS NOT NULL AND length(props) < 2 THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'k_raw_type', CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |ORDER BY check_name""".stripMargin,
    "q_mart_kpi" ->
      """WITH line_agg AS (
        |  SELECT l_orderkey, COUNT(*) AS n_lines,
        |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |         MIN(l_shipdate) AS first_shipdate
        |  FROM lineitem GROUP BY l_orderkey),
        |enriched AS (
        |  SELECT o.o_custkey, c.c_mktsegment,
        |    CASE WHEN la.n_lines IS NOT NULL AND la.n_returned = la.n_lines THEN 'RETURNED'
        |         WHEN la.n_lines IS NOT NULL AND la.n_returned > 0 THEN 'PARTIAL'
        |         WHEN o.o_orderstatus = 'F' THEN 'FULFILLED'
        |         WHEN o.o_orderstatus = 'O' THEN 'OPEN'
        |         WHEN o.o_orderstatus = 'P' THEN 'PENDING'
        |         ELSE 'UNKNOWN' END AS outcome,
        |    COALESCE(CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT),
        |             CAST(EXTRACT(YEAR FROM la.first_shipdate) AS INT), -1) AS season_year
        |  FROM orders o
        |  LEFT JOIN line_agg la ON la.l_orderkey = o.o_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey),
        |g AS (
        |  SELECT c_mktsegment, season_year,
        |    COUNT(*) AS orders_total,
        |    CAST(SUM(CASE WHEN outcome = 'FULFILLED' THEN 1 ELSE 0 END) AS BIGINT) AS orders_fulfilled,
        |    CAST(SUM(CASE WHEN outcome = 'RETURNED' THEN 1 ELSE 0 END) AS BIGINT) AS orders_returned,
        |    CAST(SUM(CASE WHEN outcome = 'PARTIAL' THEN 1 ELSE 0 END) AS BIGINT) AS orders_partial,
        |    CAST(SUM(CASE WHEN outcome = 'OPEN' THEN 1 ELSE 0 END) AS BIGINT) AS orders_open,
        |    COUNT(DISTINCT o_custkey) AS customers_distinct
        |  FROM enriched GROUP BY 1, 2)
        |SELECT c_mktsegment, season_year, orders_total, orders_fulfilled, orders_returned,
        |       orders_partial, orders_open, customers_distinct,
        |       ROUND(CAST(orders_fulfilled AS DOUBLE) / NULLIF(orders_total, 0), 4) AS fulfilled_rate,
        |       ROUND(CAST(orders_returned AS DOUBLE) / NULLIF(orders_total, 0), 4) AS returned_rate
        |FROM g ORDER BY c_mktsegment, season_year""".stripMargin,
    "q_mart_party" ->
      """WITH base AS (
        |  SELECT o.o_custkey, l.l_suppkey,
        |    CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS revenue_cents,
        |    COALESCE(CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT),
        |             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT), -1) AS season_year,
        |    CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS returned
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |u AS (
        |  SELECT 'cust' AS role, o_custkey AS party_id, season_year, revenue_cents, returned FROM base
        |  UNION ALL
        |  SELECT 'supp' AS role, l_suppkey AS party_id, season_year, revenue_cents, returned FROM base)
        |SELECT role, party_id, season_year, COUNT(*) AS n_items,
        |       CAST(SUM(returned) AS BIGINT) AS items_returned,
        |       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
        |FROM u GROUP BY 1, 2, 3 ORDER BY role, party_id, season_year""".stripMargin,
    "q_mart_checks" ->
      """WITH line_agg AS (
        |  SELECT l_orderkey, COUNT(*) AS n_lines,
        |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |         MIN(l_shipdate) AS first_shipdate
        |  FROM lineitem GROUP BY l_orderkey),
        |enriched AS (
        |  SELECT o.o_custkey, c.c_mktsegment,
        |    CASE WHEN la.n_lines IS NOT NULL AND la.n_returned = la.n_lines THEN 'RETURNED'
        |         WHEN la.n_lines IS NOT NULL AND la.n_returned > 0 THEN 'PARTIAL'
        |         WHEN o.o_orderstatus = 'F' THEN 'FULFILLED'
        |         WHEN o.o_orderstatus = 'O' THEN 'OPEN'
        |         WHEN o.o_orderstatus = 'P' THEN 'PENDING'
        |         ELSE 'UNKNOWN' END AS outcome,
        |    COALESCE(CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT),
        |             CAST(EXTRACT(YEAR FROM la.first_shipdate) AS INT), -1) AS season_year
        |  FROM orders o
        |  LEFT JOIN line_agg la ON la.l_orderkey = o.o_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey),
        |kpi AS (
        |  SELECT c_mktsegment, season_year, COUNT(*) AS orders_total,
        |    ROUND(CAST(SUM(CASE WHEN outcome = 'FULFILLED' THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(COUNT(*), 0), 4) AS fulfilled_rate,
        |    ROUND(CAST(SUM(CASE WHEN outcome = 'RETURNED' THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(COUNT(*), 0), 4) AS returned_rate
        |  FROM enriched GROUP BY 1, 2),
        |party AS (
        |  SELECT role, party_id, season_year FROM (
        |    SELECT 'cust' AS role, o.o_custkey AS party_id,
        |      COALESCE(CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT), CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT), -1) AS season_year
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    UNION ALL
        |    SELECT 'supp', l.l_suppkey,
        |      COALESCE(CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT), CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT), -1)
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |  GROUP BY role, party_id, season_year)
        |SELECT 'mart_duplicate_party_rows' AS check_name,
        |       (SELECT COUNT(*) FROM (SELECT role, party_id, season_year FROM party GROUP BY 1,2,3 HAVING COUNT(*) > 1)) AS rows_failed
        |UNION ALL SELECT 'mart_kpi_empty_group',
        |       (SELECT CAST(SUM(CASE WHEN orders_total <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM kpi)
        |UNION ALL SELECT 'mart_kpi_missing_year',
        |       (SELECT CAST(SUM(CASE WHEN season_year IS NULL OR season_year = -1 THEN 1 ELSE 0 END) AS BIGINT) FROM kpi)
        |UNION ALL SELECT 'mart_kpi_rate_out_of_bounds',
        |       (SELECT CAST(SUM(CASE WHEN fulfilled_rate < 0 OR fulfilled_rate > 1 OR returned_rate < 0 OR returned_rate > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM kpi)
        |ORDER BY check_name""".stripMargin,
    "q_union_dedupe" ->
      """WITH u AS (
        |  SELECT o_custkey AS cust_id, 1 AS prio FROM orders
        |  UNION ALL
        |  SELECT c_custkey AS cust_id, 2 AS prio FROM customer),
        |w AS (SELECT cust_id, MIN(prio) AS won_by FROM u GROUP BY cust_id)
        |SELECT won_by, COUNT(*) AS n_keys FROM w GROUP BY won_by ORDER BY won_by""".stripMargin,
    "q_double_explode" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |chars AS (SELECT unnest(string_split(tok, '')) AS ch FROM toks)
        |SELECT ch, COUNT(*) AS freq FROM chars WHERE ch <> '' GROUP BY ch ORDER BY ch""".stripMargin,
    "q_group_stats_stddev" ->
      """WITH g AS (
        |  SELECT o_orderstatus, COUNT(*) AS cnt,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS s2
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, cnt,
        |       ROUND(CAST(s1 AS DOUBLE) / cnt, 4) AS avg_price,
        |       ROUND(SQRT(CAST(s2 AS DOUBLE) / cnt - (CAST(s1 AS DOUBLE) / cnt) * (CAST(s1 AS DOUBLE) / cnt)), 4) AS stddev_pop_price
        |FROM g ORDER BY o_orderstatus""".stripMargin,
    "q_column_profile" ->
      """SELECT 'o_custkey' AS col_name, COUNT(*) AS cnt, CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cnt, COUNT(DISTINCT o_custkey) AS distinct_cnt FROM orders
        |UNION ALL SELECT 'o_orderkey', COUNT(*), CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*), CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_totalprice', COUNT(*), CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_totalprice) FROM orders
        |UNION ALL SELECT 'o_orderdate', COUNT(*), CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_orderdate) FROM orders
        |UNION ALL SELECT 'o_orderpriority', COUNT(*), CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_orderpriority) FROM orders
        |ORDER BY col_name""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |      THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END, 4) AS jaccard
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a, id_b""".stripMargin,
    "q_minhash_pairs" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |      THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents))
        |SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    // transitive closure of the same pair graph via recursive CTE —
    // min-label propagation fixpoint == Spark's hash-min components
    "q_dup_clusters" ->
      s"""WITH RECURSIVE $docDupGraphCtes
        |SELECT id AS doc_id, MIN(comp) AS component FROM reach
        |GROUP BY id ORDER BY doc_id""".stripMargin,

    // cross-corpus near-dup pairs over the even/odd doc_id split — the
    // same proven shingle CTE, joined corpus×probe instead of self
    "q_decontaminate" ->
      s"""WITH $docShingleCte
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    // quality-aware survivor selection: per near-dup cluster keep the
    // max-quality member (ties: min doc_id); singletons survive — the
    // components CTE and the quality formula are the SAME texts proven by
    // q_dup_clusters / q_text_quality
    "q_dedup_best" ->
      s"""WITH RECURSIVE $docDupGraphCtes,
        |comps AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
        |q AS (SELECT doc_id, quality_1e4 FROM ($textQualitySql) tq),
        |members AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
        |            FROM documents d LEFT JOIN comps c ON c.id = d.doc_id),
        |ranked AS (SELECT m.doc_id,
        |                  ROW_NUMBER() OVER (PARTITION BY m.comp
        |                    ORDER BY q.quality_1e4 DESC, m.doc_id) AS rk
        |           FROM members m JOIN q ON q.doc_id = m.doc_id)
        |SELECT doc_id FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q_embed_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach(id, comp) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM edges e JOIN reach r ON r.id = e.src)
        |SELECT id AS vec_id, MIN(comp) AS component FROM reach
        |GROUP BY id ORDER BY vec_id""".stripMargin,
    "q_lang_id" ->
      """WITH t AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT lang,
        |    CAST(len(list_intersect(toks, ['der','die','das','und','ist','von','mit','für','auf','nicht'])) AS BIGINT) AS s_de,
        |    CAST(len(list_intersect(toks, ['the','and','of','to','in','is','that','for','with','was'])) AS BIGINT) AS s_en,
        |    CAST(len(list_intersect(toks, ['el','la','los','las','de','que','es','en','por','con'])) AS BIGINT) AS s_es,
        |    CAST(len(list_intersect(toks, ['le','la','les','et','de','des','est','dans','pour','que'])) AS BIGINT) AS s_fr,
        |    CAST(len(list_intersect(toks, ['的','是','在','了','和','有','我','不','这','个'])) AS BIGINT)
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '的', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '是', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '在', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '了', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '和', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '有', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '我', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '不', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '这', '')))
        |      + (length(array_to_string(toks, ' ')) - length(replace(array_to_string(toks, ' '), '个', ''))) AS s_zh
        |  FROM t),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN NULL
        |         WHEN s_zh = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
        |         WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |         WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |         WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |         ELSE 'de' END AS lang_pred
        |  FROM s)
        |SELECT lang, lang_pred, COUNT(*) AS cnt FROM p
        |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,
    "q_text_quality" -> textQualitySql,
    "q_ann_ivf" ->
      """SELECT vec_id,
        |       ROUND(list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,
    "q_ann_topk" ->
      """SELECT vec_id,
        |       ROUND(list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,

    // exhaustive-probe parity: routed through the LSH index machinery, the
    // output must equal the exact top-k (same twin SQL as q_ann_topk)
    "q_ann_lsh" ->
      """SELECT vec_id,
        |       ROUND(list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,

    // full signature recomputation: DuckDB rebuilds every 60-bit md5-based
    // simhash from hex-digit bit extraction (bit b of the big-endian
    // 15-hex-char parse = bit b%4 of digit 15 - b/4), then verifies the
    // complete hamming<=3 pair set — signatures AND pairs, all exact
    "q_simhash_pairs" -> simhashOracleSql,

    // DuckDB's native ASOF LEFT JOIN is the oracle for the union+window
    // composition (same <= tie rule: a view AT the click's ts matches)
    "q_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     views AS (SELECT user_id, ts AS view_ts, value AS view_value FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, c.ts, v.view_ts, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.view_ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,
    // the bucketed variant must produce the SAME rows as the plain one —
    // one oracle pins both shapes against DuckDB's native ASOF JOIN
    "q_asof_bucketed" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     views AS (SELECT user_id, ts AS view_ts, value AS view_value FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, c.ts, v.view_ts, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.view_ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,
    "q_interval_overlaps" ->
      """WITH iv AS (SELECT event_id, user_id, ts AS s,
        |              ts + INTERVAL (event_id % 7 + 1) MINUTE AS e FROM events),
        |x AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev_e FROM iv)
        |SELECT event_id, user_id FROM x
        |WHERE max_prev_e IS NOT NULL AND s < max_prev_e ORDER BY event_id""".stripMargin,
    // quantile_disc(0.5) == the rank floor((n-1)/2)+1 select (verified on
    // even and odd n) — both pick an actual data value, no interpolation
    "q_mad_outliers" ->
      """WITH base AS (SELECT l_returnflag AS grp, CAST(l_extendedprice AS DOUBLE) AS v
        |              FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |med AS (SELECT grp, quantile_disc(v, 0.5) AS med FROM base GROUP BY grp),
        |dev AS (SELECT b.grp, b.v, m.med, abs(b.v - m.med) AS d FROM base b JOIN med m USING (grp)),
        |mad AS (SELECT grp, quantile_disc(d, 0.5) AS mad FROM dev GROUP BY grp)
        |SELECT d.grp AS l_returnflag, count(*) AS n_rows,
        |       any_value(d.med) AS med, any_value(ma.mad) AS mad,
        |       CAST(SUM(CASE WHEN d.d > 1.0 * 1.4826 * ma.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad ma USING (grp)
        |GROUP BY d.grp ORDER BY d.grp""".stripMargin,
    // identical decimal moment accumulation and double expression shape:
    // sums in DECIMAL(18,2)/products DECIMAL(36+,4) are exact and
    // order-independent, r is one deterministic double expression
    "q_corr_profile" ->
      """WITH s AS (SELECT count(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) sq, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) sp,
        |  SUM(CAST(l_discount AS DECIMAL(18,2))) sd, SUM(CAST(l_tax AS DECIMAL(18,2))) st,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) sqq,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) spp,
        |  SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) sdd,
        |  SUM(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) stt,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) sqp,
        |  SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) sdt
        |  FROM lineitem)
        |SELECT
        |  CAST(floor((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) *
        |         (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) * 1e6) AS BIGINT)
        |    AS corr_l_quantity_l_extendedprice_1e6,
        |  CAST(floor((CAST(n AS DOUBLE) * CAST(sdt AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(st AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) *
        |         (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * 1e6) AS BIGINT)
        |    AS corr_l_discount_l_tax_1e6
        |FROM s""".stripMargin,
    "q_chisq_drift" ->
      """WITH t AS (SELECT CAST(event_type AS VARCHAR) AS category,
        |             CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS side
        |           FROM events WHERE event_id % 2 IN (0, 1)),
        |c AS (SELECT category,
        |        CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_ref,
        |        CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_cand
        |      FROM t GROUP BY category),
        |w AS (SELECT *, SUM(cnt_ref) OVER () AS tref, SUM(cnt_cand) OVER () AS tcand,
        |        cnt_ref + cnt_cand AS rowt FROM c)
        |SELECT category, cnt_ref, cnt_cand,
        |  CAST(floor((
        |    (CAST(cnt_ref AS DOUBLE) - CAST(rowt AS DOUBLE) * CAST(tref AS DOUBLE) / CAST(tref + tcand AS DOUBLE))
        |    * (CAST(cnt_ref AS DOUBLE) - CAST(rowt AS DOUBLE) * CAST(tref AS DOUBLE) / CAST(tref + tcand AS DOUBLE))
        |    / (CAST(rowt AS DOUBLE) * CAST(tref AS DOUBLE) / CAST(tref + tcand AS DOUBLE))
        |    + (CAST(cnt_cand AS DOUBLE) - CAST(rowt AS DOUBLE) * CAST(tcand AS DOUBLE) / CAST(tref + tcand AS DOUBLE))
        |    * (CAST(cnt_cand AS DOUBLE) - CAST(rowt AS DOUBLE) * CAST(tcand AS DOUBLE) / CAST(tref + tcand AS DOUBLE))
        |    / (CAST(rowt AS DOUBLE) * CAST(tcand AS DOUBLE) / CAST(tref + tcand AS DOUBLE))
        |  ) * 1e6) AS BIGINT) AS chi_term_1e6
        |FROM w ORDER BY category""".stripMargin,
    // PSI per-bin terms: p = max(cnt / max(total, 1), 1e-6) then
    // (pa - pe) * ln(pa / pe) — one subtract/divide/ln/multiply per bin,
    // identical expression shape on both engines; dense bin range so empty
    // bins contribute their epsilon term exactly like Histogram.pdf
    "q_psi_terms" ->
      """WITH v AS (
        |  SELECT LEAST(7, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 32.0) AS INTEGER))) AS bin,
        |         CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS side
        |  FROM events WHERE value IS NOT NULL AND event_id % 2 IN (0, 1)
        |),
        |bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(8)),
        |c AS (
        |  SELECT b.bin,
        |    CAST(COALESCE(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cnt_ref,
        |    CAST(COALESCE(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cnt_cand
        |  FROM bins b LEFT JOIN v ON v.bin = b.bin GROUP BY b.bin
        |),
        |w AS (SELECT *, SUM(cnt_ref) OVER () AS tref, SUM(cnt_cand) OVER () AS tcand FROM c),
        |p AS (SELECT bin, cnt_ref, cnt_cand,
        |        GREATEST(CAST(cnt_ref AS DOUBLE) / GREATEST(CAST(tref AS DOUBLE), 1.0), 1e-6) AS pe,
        |        GREATEST(CAST(cnt_cand AS DOUBLE) / GREATEST(CAST(tcand AS DOUBLE), 1.0), 1e-6) AS pa
        |      FROM w)
        |SELECT bin, cnt_ref, cnt_cand,
        |  CAST(FLOOR((pa - pe) * LN(pa / pe) * 1e6) AS BIGINT) AS psi_term_1e6
        |FROM p ORDER BY bin""".stripMargin,
    // per-group EMD terms: dense (grp,bin) grid via DISTINCT groups ×
    // range(bins) (empty bins carry the persisting CDF gap into the sum),
    // cumulative/total counts via PARTITION BY windows, term operand
    // order identical to Drift.groupedEmdTerms
    "q_grouped_emd" ->
      """WITH v AS (
        |  SELECT CAST(event_type AS VARCHAR) AS grp,
        |         LEAST(7, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 32.0) AS INTEGER))) AS bin,
        |         CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS side
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND event_id % 2 IN (0, 1)
        |),
        |c AS (SELECT grp, bin,
        |        SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cnt_ref,
        |        SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cnt_cand
        |      FROM v GROUP BY grp, bin),
        |g AS (SELECT DISTINCT grp FROM c),
        |bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(8)),
        |d AS (SELECT g.grp, b.bin,
        |        CAST(COALESCE(c.cnt_ref, 0) AS BIGINT) AS cnt_ref,
        |        CAST(COALESCE(c.cnt_cand, 0) AS BIGINT) AS cnt_cand
        |      FROM g CROSS JOIN bins b LEFT JOIN c ON c.grp = g.grp AND c.bin = b.bin),
        |w AS (SELECT grp, bin, cnt_ref, cnt_cand,
        |        SUM(cnt_ref) OVER (PARTITION BY grp ORDER BY bin) AS cum_ref,
        |        SUM(cnt_cand) OVER (PARTITION BY grp ORDER BY bin) AS cum_cand,
        |        SUM(cnt_ref) OVER (PARTITION BY grp) AS tref,
        |        SUM(cnt_cand) OVER (PARTITION BY grp) AS tcand
        |      FROM d)
        |SELECT grp, bin, cnt_ref, cnt_cand,
        |  CAST(FLOOR(ABS(CAST(cum_ref AS DOUBLE) / GREATEST(CAST(tref AS DOUBLE), 1.0)
        |           - CAST(cum_cand AS DOUBLE) / GREATEST(CAST(tcand AS DOUBLE), 1.0)) * 32.0 * 1e6) AS BIGINT) AS emd_term_1e6
        |FROM w ORDER BY grp, bin""".stripMargin,
    // split-balance: the md5-nibble split is portable (hex digits sort
    // identically everywhere), the per-group KS machinery is the
    // q_grouped_ks twin verbatim; NULL event_id is excluded explicitly —
    // its NULL nibble fails both side predicates on the engine
    "q_split_balance" ->
      """WITH v AS (
        |  SELECT CAST(event_type AS VARCHAR) AS grp,
        |         LEAST(7, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 32.0) AS INTEGER))) AS bin,
        |         CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' THEN 0 ELSE 1 END AS side
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL AND event_id IS NOT NULL
        |),
        |c AS (SELECT grp, bin,
        |        CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_ref,
        |        CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_cand
        |      FROM v GROUP BY grp, bin),
        |w AS (SELECT grp, cnt_ref, cnt_cand,
        |        SUM(cnt_ref) OVER (PARTITION BY grp ORDER BY bin) AS cum_ref,
        |        SUM(cnt_cand) OVER (PARTITION BY grp ORDER BY bin) AS cum_cand,
        |        SUM(cnt_ref) OVER (PARTITION BY grp) AS tref,
        |        SUM(cnt_cand) OVER (PARTITION BY grp) AS tcand
        |      FROM c)
        |SELECT grp, SUM(cnt_ref) AS n_ref, SUM(cnt_cand) AS n_cand,
        |  CAST(FLOOR(MAX(ABS(CAST(cum_ref AS DOUBLE) / GREATEST(CAST(tref AS DOUBLE), 1.0)
        |           - CAST(cum_cand AS DOUBLE) / GREATEST(CAST(tcand AS DOUBLE), 1.0))) * 1e6) AS BIGINT) AS ks_1e6
        |FROM w GROUP BY grp ORDER BY grp""".stripMargin,
    // per-group KS: cumulative + total counts via per-group windows
    // (DuckDB twin of the engine's bounded per-group window over the
    // (grp,bin) aggregate), gap = two exact-count divides + subtract/abs,
    // statistic = MAX (order-free) — same operand order as Drift.groupedKs
    "q_grouped_ks" ->
      """WITH v AS (
        |  SELECT CAST(event_type AS VARCHAR) AS grp,
        |         LEAST(7, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 32.0) AS INTEGER))) AS bin,
        |         CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS side
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND event_id % 2 IN (0, 1)
        |),
        |c AS (SELECT grp, bin,
        |        CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_ref,
        |        CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_cand
        |      FROM v GROUP BY grp, bin),
        |w AS (SELECT grp, cnt_ref, cnt_cand,
        |        SUM(cnt_ref) OVER (PARTITION BY grp ORDER BY bin) AS cum_ref,
        |        SUM(cnt_cand) OVER (PARTITION BY grp ORDER BY bin) AS cum_cand,
        |        SUM(cnt_ref) OVER (PARTITION BY grp) AS tref,
        |        SUM(cnt_cand) OVER (PARTITION BY grp) AS tcand
        |      FROM c)
        |SELECT grp, SUM(cnt_ref) AS n_ref, SUM(cnt_cand) AS n_cand,
        |  CAST(FLOOR(MAX(ABS(CAST(cum_ref AS DOUBLE) / GREATEST(CAST(tref AS DOUBLE), 1.0)
        |           - CAST(cum_cand AS DOUBLE) / GREATEST(CAST(tcand AS DOUBLE), 1.0))) * 1e6) AS BIGINT) AS ks_1e6
        |FROM w GROUP BY grp ORDER BY grp""".stripMargin,
    // EMD per-bin terms: integer-exact cumulative counts via an ordered
    // window (DuckDB's twin of the engine's triangular broadcast join),
    // then |cum_ref/tref - cum_cand/tcand| * width * 1e6 floored — same
    // operand order as Drift.emdTerms so doubles match bit-for-bit
    "q_emd_drift" ->
      """WITH v AS (
        |  SELECT LEAST(31, GREATEST(0, CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0) / 4096.0) AS INTEGER))) AS bin,
        |         CASE WHEN l_returnflag = 'A' THEN 0 ELSE 1 END AS side
        |  FROM lineitem WHERE l_returnflag IN ('A','R') AND l_extendedprice IS NOT NULL
        |),
        |bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(32)),
        |c AS (
        |  SELECT b.bin,
        |    CAST(COALESCE(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cnt_ref,
        |    CAST(COALESCE(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cnt_cand
        |  FROM bins b LEFT JOIN v ON v.bin = b.bin GROUP BY b.bin
        |),
        |w AS (SELECT *, SUM(cnt_ref) OVER (ORDER BY bin) AS cum_ref,
        |               SUM(cnt_cand) OVER (ORDER BY bin) AS cum_cand,
        |               SUM(cnt_ref) OVER () AS tref,
        |               SUM(cnt_cand) OVER () AS tcand FROM c)
        |SELECT bin, cnt_ref, cnt_cand,
        |  CAST(FLOOR(ABS(CAST(cum_ref AS DOUBLE) / GREATEST(CAST(tref AS DOUBLE), 1.0)
        |           - CAST(cum_cand AS DOUBLE) / GREATEST(CAST(tcand AS DOUBLE), 1.0)) * 4096.0 * 1e6) AS BIGINT) AS emd_term_1e6
        |FROM w ORDER BY bin""".stripMargin,
    "q_benford" ->
      """WITH g AS (
        |  SELECT CAST(substr(CAST(CAST(floor(abs(CAST(o_totalprice AS DOUBLE))) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |         count(*) AS observed
        |  FROM orders WHERE abs(CAST(o_totalprice AS DOUBLE)) >= 1 GROUP BY 1)
        |SELECT digit, observed,
        |       CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6) AS BIGINT) AS expected_share_1e6
        |FROM g ORDER BY digit""".stripMargin,
    // integer threshold test (cnt*den >= total*num): exact, no float share
    "q_heavy_hitters" ->
      """WITH v AS (SELECT CAST(event_type AS VARCHAR) AS value FROM events WHERE event_type IS NOT NULL),
        |t AS (SELECT count(*) AS total FROM v)
        |SELECT value, count(*) AS cnt FROM v, t GROUP BY value, t.total
        |HAVING count(*) * 5 >= t.total * 1 ORDER BY cnt DESC, value""".stripMargin,
    // md5 hex nibbles sort 0-9a-f in ASCII on every engine
    "q_sample_portable" ->
      """SELECT o_orderkey FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '4'
        |ORDER BY o_orderkey""".stripMargin,
    // all-integer weighted inclusion: h32 * maxW < w * 2^32 — no float
    // rounding edge to diverge between engines
    "q_sample_weighted" ->
      """SELECT doc_id FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) * 1000
        |      < LEAST(length(text), 1000) * 4294967296
        |ORDER BY doc_id""".stripMargin,
    // leakage-safe split: the proven dup-graph components CTE decides the
    // representative; singletons represent themselves
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE $docDupGraphCtes,
        |comps AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
        |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_rep,
        |       CASE WHEN substr(md5(CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)), 1, 1) < '4'
        |            THEN 'test' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // brute-force levenshtein self-join: the complete-recall ground truth
    // the PassJoin segment blocking must reproduce exactly
    "q_edit_distance" ->
      """WITH s AS (SELECT doc_id, substr(text, 1, 40) AS p FROM documents WHERE text IS NOT NULL)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 2 ORDER BY id_a, id_b""".stripMargin,
    "q_entropy" ->
      """WITH c AS (SELECT CAST(event_type AS VARCHAR) AS category, count(*) AS cnt
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |w AS (SELECT *, SUM(cnt) OVER () AS total FROM c)
        |SELECT category, cnt,
        |  CAST(floor(-(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) * log2(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))) * 1e9) AS BIGINT) AS entropy_term_1e9
        |FROM w ORDER BY category""".stripMargin,
    "q_sample_stratified" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <
        |  CASE o_orderpriority WHEN '1-URGENT' THEN '2' WHEN '2-HIGH' THEN '4' ELSE '8' END
        |ORDER BY o_orderkey""".stripMargin,
    // same brute-force ground truth as q_minhash_pairs: the prefix-filter
    // path must reproduce the complete exact pair set
    "q_prefix_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |      THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents))
        |SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    "q_fd_violations" ->
      """SELECT l_orderkey, count(DISTINCT l_shipdate) AS n_values
        |FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_shipdate) > 1
        |ORDER BY 1""".stripMargin,
    "q_monotonic" ->
      """WITH e AS (SELECT user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        |  FROM events)
        |SELECT count(DISTINCT user_id) AS n_keys,
        |       count(*) AS n_rows,
        |       CAST(sum(CASE WHEN pv > value THEN 1 ELSE 0 END) AS BIGINT)
        |         AS violations
        |FROM e""".stripMargin,
    "q_sequence_gaps" ->
      """WITH e AS (SELECT user_id, event_id,
        |  lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS pe
        |  FROM events)
        |SELECT user_id, pe AS gap_after, event_id AS gap_before,
        |       event_id - pe - 1 AS missing
        |FROM e WHERE event_id - pe > 1 ORDER BY user_id, gap_after""".stripMargin,
    "q_mask_profile" ->
      """SELECT translate(props,
        |    'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789',
        |    'aaaaaaaaaaaaaaaaaaaaaaaaaaAAAAAAAAAAAAAAAAAAAAAAAAAA9999999999')
        |    AS mask,
        |  count(*) AS cnt, min(props) AS example
        |FROM events WHERE props IS NOT NULL GROUP BY 1 ORDER BY mask""".stripMargin,
    // identical rank-selection construction (quantile_disc semantics):
    // k-th smallest with k = max(1, ceil(p*n)) per group
    "q_grouped_quantiles" ->
      """WITH b AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
        |  row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT g AS l_returnflag,
        |  max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1) THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1) THEN v END) AS p90,
        |  max(CASE WHEN rn = greatest(CAST(ceil(0.99 * n) AS BIGINT), 1) THEN v END) AS p99
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // x - x <> 0 is true exactly for NaN/±Inf under both engines' NaN
    // comparison rules; float→double cast before multiply + in-order sum
    // makes norm_1e6 bit-identical (0.0 + x1² == x1² in IEEE)
    "q_vector_profile" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(len(list_filter(embedding,
        |    x -> x IS NULL OR (x - x) <> 0)) AS INT) AS n_nonfinite,
        |  len(list_filter(embedding, x -> x = 0)) = len(embedding) AS is_zero,
        |  CASE WHEN len(embedding) > 0 AND len(list_filter(embedding,
        |      x -> x IS NULL OR (x - x) <> 0)) = 0
        |    THEN CAST(floor(sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) * 1e6)
        |      AS BIGINT)
        |    ELSE NULL END AS norm_1e6
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_fd_strength" ->
      """WITH a AS (SELECT count(*) AS n_det FROM
        |  (SELECT DISTINCT l_orderkey FROM lineitem)),
        |b AS (SELECT count(*) AS n_pairs FROM
        |  (SELECT DISTINCT l_orderkey, l_shipdate FROM lineitem))
        |SELECT n_det, n_pairs,
        |  CAST(floor(CAST(n_det AS DOUBLE) * 1000000 / n_pairs) AS BIGINT)
        |    AS strength_1e6
        |FROM a, b""".stripMargin,
    // counts widened to double before the 1e6 scaling on BOTH sides
    // (long products overflow at production volumes); tie-break of the
    // top-k is (cnt DESC, key ASC) on both sides
    "q_skew_profile" ->
      """WITH c AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |             count(*) AS n_keys, max(cnt) AS max_cnt FROM c),
        |k AS (SELECT CAST(sum(cnt) AS BIGINT) AS topk_cnt FROM
        |  (SELECT cnt FROM c ORDER BY cnt DESC, l_partkey LIMIT 10))
        |SELECT n_rows, n_keys, max_cnt, topk_cnt,
        |  CAST(floor(CAST(max_cnt AS DOUBLE) * 1000000 / n_rows) AS BIGINT)
        |    AS max_share_1e6,
        |  CAST(floor(CAST(topk_cnt AS DOUBLE) * 1000000 / n_rows) AS BIGINT)
        |    AS topk_share_1e6
        |FROM t, k""".stripMargin,
    "q_key_candidates" ->
      """SELECT col_name, n_rows, n_distinct,
        |  CAST(floor(CAST(n_distinct AS DOUBLE) * 1000000 / n_rows) AS BIGINT)
        |    AS uniqueness_1e6,
        |  n_distinct = n_rows AS is_candidate_key
        |FROM (
        |  SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
        |    count(DISTINCT o_custkey) AS n_distinct FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', count(*), count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(DISTINCT o_orderstatus)
        |  FROM orders)
        |ORDER BY col_name""".stripMargin,
    // ratio shape (CAST(cnt AS DOUBLE) * prev_n) / prev_sum is op-for-op
    // identical to the Spark side, compared UNSCALED against the raw
    // 0.8/1.25 literals (scaling thresholds by 1e6 lands on a different
    // double and can flip boundary-exact ratios); frame is ROWS BETWEEN
    // 7 PRECEDING AND 1 PRECEDING in both engines
    "q_volume_anomaly" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, cnt,
        |  count(*) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS prev_n,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS prev_sum
        |  FROM d)
        |SELECT event_type, day, cnt, prev_n, prev_sum,
        |  CASE WHEN prev_n > 0 THEN CAST(floor(
        |    CAST(cnt AS DOUBLE) * prev_n / prev_sum * 1000000.0) AS BIGINT)
        |  END AS ratio_1e6,
        |  CASE WHEN prev_n > 0 THEN
        |    (CAST(cnt AS DOUBLE) * prev_n / prev_sum < 0.8 OR
        |     CAST(cnt AS DOUBLE) * prev_n / prev_sum > 1.25)
        |  ELSE false END AS is_anomaly
        |FROM w ORDER BY event_type, day""".stripMargin,
    // factors 0.5 / 2.0 are powers of two — the multiply is exact IEEE
    // on both engines, so the filter is bit-portable
    "q_rolling_range" ->
      """WITH w AS (SELECT user_id, ts, event_id, value,
        |  min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS prev_min,
        |  max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM events)
        |SELECT user_id, ts, event_id, value, prev_min, prev_max
        |FROM w WHERE prev_min IS NOT NULL AND
        |  (value < prev_min * 0.5 OR value > prev_max * 2.0)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    // the CUSUM fold replayed as a recursive CTE — every step is one add
    // and one GREATEST in the same shape as the engine's fold, so the
    // scaled longs hash-match bit-for-bit
    "q_cusum_shift" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |),
        |tot AS (SELECT event_type, COUNT(*) AS total FROM events GROUP BY 1),
        |base AS (
        |  SELECT d.event_type, d.d, (d.cnt * 30.0) / t.total AS x,
        |         ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.d) AS rn
        |  FROM daily d JOIN tot t USING (event_type)
        |),
        |c AS (
        |  SELECT event_type, d, rn,
        |         GREATEST(0.0, 0.0 + (x - 1.05)) AS hi,
        |         GREATEST(0.0, 0.0 + (0.95 - x)) AS lo
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.event_type, b.d, b.rn,
        |         GREATEST(0.0, c.hi + (b.x - 1.05)),
        |         GREATEST(0.0, c.lo + (0.95 - b.x))
        |  FROM base b JOIN c ON b.event_type = c.event_type AND b.rn = c.rn + 1
        |)
        |SELECT event_type, d,
        |       CAST(FLOOR(hi * 1000000.0) AS BIGINT) AS cusum_hi_1e6,
        |       CAST(FLOOR(lo * 1000000.0) AS BIGINT) AS cusum_lo_1e6,
        |       (hi > 0.3 OR lo > 0.3) AS is_shift
        |FROM c ORDER BY event_type, d""".stripMargin,
    // bin index: single subtract, divide by ((hi-lo)/16.0), floor, clamp —
    // fixed IEEE expression identical on both sides
    "q_histogram" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |e AS (SELECT min(v) AS lo, max(v) AS hi FROM v)
        |SELECT CASE WHEN hi = lo THEN 0
        |    ELSE CAST(least(floor((v - lo) / ((hi - lo) / 16.0)), 15) AS BIGINT)
        |  END AS bin, count(*) AS cnt
        |FROM v, e GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle takes the whole latest row; the operator takes each
    // column's latest NON-NULL independently — identical here because the
    // testdata columns are dense and (ts, event_id) is unique per user
    // (the sparse-source semantics are pinned by SurvivorSpec)
    "q_golden_record" ->
      """WITH r AS (SELECT user_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, event_type AS last_event_type,
        |  value AS last_value, n AS n_merged
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)

  /** Shared oracle text: shingles → exact-jaccard(0.6) pairs → undirected
    * edges → recursive min-label reachability over `documents` — the
    * component machinery q_dup_clusters proves, reused verbatim by
    * q_dedup_best. Plain (non-interpolated) literal: the regex `\s+` must
    * survive as-is.
    */
  /** Word-3-shingle sets per document — the base CTE of every jaccard
    * oracle. Plain literal (`\s+` must survive).
    */
  private val docShingleCte: String =
    """s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |      ELSE [array_to_string(toks, ' ')] END AS sh
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |        FROM documents))""".stripMargin

  private val docDupGraphCtes: String = docShingleCte + "," +
    """
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
      |reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.comp FROM edges e JOIN reach r ON r.id = e.src)""".stripMargin

  /** The q_text_quality oracle, shared as a subquery by q_dedup_best. */
  private val textQualitySql: String =
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
        |    list_filter(regexp_split_to_array(trim(regexp_replace(text, '([[:punct:]])', ' \1 ', 'g')), '\s+'), x -> len(x) > 0) AS subs
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n, punct,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(subs) AS INT) AS n_subwords,
        |    CAST(len(toks) AS DOUBLE) AS ntok,
        |    CAST(len(list_intersect(toks,
        |      ['the','and','of','to','in','is','that','for','with','was',
        |       'der','die','das','und','ist','von','mit','für','auf','nicht',
        |       'le','la','les','et','de','des','est','dans','pour','que',
        |       'el','los','las','es','en','por','con',
        |       '的','是','在','了','和','有','我','不','这','个'])) AS DOUBLE) AS nstop
        |  FROM b),
        |sc AS (
        |  SELECT doc_id, n_tokens, n_subwords,
        |    LEAST(n / 500.0, 1.0) AS len_score,
        |    1.0 - LEAST((CASE WHEN n > 0 THEN punct / n ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
        |    LEAST((CASE WHEN ntok > 0 THEN nstop / ntok ELSE 0.0 END) * 4.0, 1.0) AS stop_score,
        |    CASE WHEN (CASE WHEN ntok > 0 THEN n / ntok ELSE 0.0 END) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.4 END AS word_score
        |  FROM m)
        |SELECT doc_id, n_tokens, n_subwords,
        |  CAST(FLOOR((len_score * 0.3 + punct_score * 0.3 + stop_score * 0.2 + word_score * 0.2) * 10000) AS BIGINT) AS quality_1e4
        |FROM sc ORDER BY doc_id""".stripMargin

  /** DuckDB twin of the md5-60-bit simhash pipeline: 60 per-bit sign sums
    * per document, packed to the same BIGINT signature Spark emits, joined
    * all-pairs on bit_count(xor) <= 3. Generated (60 bit terms) rather than
    * hand-written.
    */
  private def simhashOracleSql: String = {
    val bitSums = (0 until 60).map { b =>
      val pos = 15 - b / 4
      val shift = b % 4
      s"SUM(CASE WHEN (((strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1) >> $shift) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n       ")
    val packed = (0 until 60).map { b =>
      s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS hx FROM t),
       |bits AS (
       |  SELECT doc_id,
       |       $bitSums
       |  FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($packed AS BIGINT) AS sh FROM bits)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }
}
