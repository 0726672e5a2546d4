package graft.mart

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model._
import graft.checks.{CheckCompiler, Uniqueness}

/** Mart layer — derived KPI views + L-stage checks, mirroring the
  * reference's `mart.v_competition_season_kpi` / `mart.v_team_season_results`
  * (`/root/reference/sql/initdb/mart_views.sql:3-95,97-189`) re-expressed
  * over the engine's star schema. The exact reference shapes carried over:
  *
  *  - outcome CASE ladder with fallback chain (`mart_views.sql:51-59`);
  *  - COALESCE year-fallback chain: declared date, then a date INFERRED by a
  *    MIN over the fact table (`season_dates` CTE + `mart_views.sql:67-74`);
  *  - rate = ROUND(x::numeric / NULLIF(denominator, 0), 4) divide-guard
  *    (`mart_views.sql:78-80`);
  *  - two-sided UNION ALL unpivot into per-party rows
  *    (`mart_views.sql:126-150`).
  *
  * Scale notes: the dim join broadcasts (customer segment projection is
  * tiny); the per-order rollup and the final groupBy shuffle only narrow
  * key+count columns; the unpivot is a UNION ALL of two projections of one
  * scan (Spark plans it as a single pass per branch, no join).
  */
object Mart {

  private def rate(num: Column, den: Column): Column =
    round(num.cast("double") / when(den === 0, lit(null)).otherwise(den), 4)

  /** v_competition_season_kpi analogue: per (market segment, season year)
    * KPIs over orders enriched with a per-order lineitem rollup and the
    * customer dimension.
    */
  def orderSeasonKpi(orders: DataFrame, lineitem: DataFrame,
                     customer: DataFrame): DataFrame = {
    // per-order fact rollup (the `finished`/`season_dates` CTE analogue:
    // MIN(ship date) infers the date used by the COALESCE year chain)
    val lineAgg = lineitem.groupBy(col("l_orderkey")).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
      min(col("l_shipdate")).as("first_shipdate"))
    // outcome ladder: score-derived outcomes first, then status fallbacks
    // (mart_views.sql:51-59)
    val outcome =
      when(col("n_lines").isNotNull && col("n_returned") === col("n_lines"), "RETURNED")
        .when(col("n_lines").isNotNull && col("n_returned") > 0, "PARTIAL")
        .when(col("o_orderstatus") === "F", "FULFILLED")
        .when(col("o_orderstatus") === "O", "OPEN")
        .when(col("o_orderstatus") === "P", "PENDING")
        .otherwise("UNKNOWN")
    val enriched = orders
      .join(lineAgg, orders("o_orderkey") === lineAgg("l_orderkey"), "left")
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .withColumn("outcome", outcome)
      // COALESCE year chain: declared order date, then inferred ship date,
      // then sentinel (mart_views.sql:67-74)
      .withColumn("season_year",
        coalesce(year(col("o_orderdate")), year(col("first_shipdate")), lit(-1)))
    // Two-phase exact distinct: a countDistinct mixed into this aggregate
    // would plan an Expand that doubles every enriched row through the
    // shuffle (a 2x shuffle tax on the mart's widest input at scale).
    // Instead pre-aggregate per (segment, year, custkey) — map-side partials
    // shrink the shuffle to one narrow row per customer — then the second
    // (tiny) aggregate counts one row per customer for the exact distinct.
    val perCustomer = enriched
      .groupBy(col("c_mktsegment"), col("season_year"), col("o_custkey"))
      .agg(
        count(lit(1)).as("__orders"),
        sum(when(col("outcome") === "FULFILLED", 1L).otherwise(0L)).as("__fulfilled"),
        sum(when(col("outcome") === "RETURNED", 1L).otherwise(0L)).as("__returned"),
        sum(when(col("outcome") === "PARTIAL", 1L).otherwise(0L)).as("__partial"),
        sum(when(col("outcome") === "OPEN", 1L).otherwise(0L)).as("__open"))
    perCustomer.groupBy(col("c_mktsegment"), col("season_year"))
      .agg(
        sum(col("__orders")).as("orders_total"),
        sum(col("__fulfilled")).as("orders_fulfilled"),
        sum(col("__returned")).as("orders_returned"),
        sum(col("__partial")).as("orders_partial"),
        sum(col("__open")).as("orders_open"),
        // one pre-aggregated row per non-null custkey == countDistinct
        count(col("o_custkey")).as("customers_distinct"))
      .withColumn("fulfilled_rate", rate(col("orders_fulfilled"), col("orders_total")))
      .withColumn("returned_rate", rate(col("orders_returned"), col("orders_total")))
  }

  /** v_team_season_results analogue: UNION ALL unpivot of each
    * order↔lineitem row into a customer-party row and a supplier-party row
    * (`mart_views.sql:126-150`), aggregated per (role, party, year).
    * Money sums go through floor(x*100) integer cents — NOT exact cents
    * (an IEEE-double product landing a hair below an integer floors one
    * cent low, e.g. 4.35*100 = 434.999...), but a DETERMINISTIC,
    * order-independent projection at any parallelism, mirrored exactly by
    * the DuckDB oracle; true money-exactness would take DecimalType end
    * to end.
    */
  def partySeasonResults(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val base = lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("revenue_cents",
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
      .withColumn("season_year",
        coalesce(year(col("o_orderdate")), year(col("l_shipdate")), lit(-1)))
      .withColumn("returned", when(col("l_returnflag") === "R", 1L).otherwise(0L))
    val custSide = base.select(lit("cust").as("role"), col("o_custkey").as("party_id"),
      col("season_year"), col("revenue_cents"), col("returned"))
    val suppSide = base.select(lit("supp").as("role"), col("l_suppkey").as("party_id"),
      col("season_year"), col("revenue_cents"), col("returned"))
    custSide.unionByName(suppSide)
      .groupBy(col("role"), col("party_id"), col("season_year"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("returned")).as("items_returned"),
        sum(col("revenue_cents")).as("revenue_cents"))
  }

  /** L-stage checks over the derived views — C9–C11
    * (`/root/reference/src/app2/etl_validation/specs.py:264-331`):
    * rate bounds, missing year/dates, duplicate grouped rows.
    */
  def kpiChecks: Seq[Check] = Seq(
    Check("mart_kpi_rate_out_of_bounds", RuleGroup.OutOfRange, Severity.Error,
      col("fulfilled_rate") < 0 || col("fulfilled_rate") > 1 ||
        col("returned_rate") < 0 || col("returned_rate") > 1,
      "rates must lie in [0,1] (specs.py:264-289)"),
    Check("mart_kpi_missing_year", RuleGroup.MissingValues, Severity.Error,
      col("season_year").isNull || col("season_year") === -1,
      "season year must be derivable (specs.py:290-307)"),
    Check("mart_kpi_empty_group", RuleGroup.SqlConstraint, Severity.Error,
      col("orders_total") <= 0, "every KPI group must aggregate >= 1 order"))

  /** Run the full L-stage: KPI row checks in one pass + the duplicate
    * grouped-rows probe on the unpivoted view (specs.py:308-331).
    *
    * Each view is consumed by exactly ONE fused action (the KPI checks
    * collapse into a single aggregate scan, the party probe into one
    * groupBy), so there is nothing to cache across checks — but the two
    * actions are independent, so they run CONCURRENTLY: Spark's scheduler
    * interleaves their stages across the same executor slots and the
    * L-stage wall time is max(kpi, party) instead of the sum.
    */
  def runChecks(kpi: DataFrame, party: DataFrame): Seq[CheckOutcome] = {
    val (kpiOutcomes, partyOutcome) = graft.Settle(
      CheckCompiler.run(kpi, kpiChecks),
      Uniqueness.check(party.select("role", "party_id", "season_year"),
        Seq("role", "party_id", "season_year"), "mart_duplicate_party_rows"))
    kpiOutcomes :+ partyOutcome
  }
}
