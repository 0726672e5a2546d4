package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.mart.Mart

/** Mart layer semantics: outcome CASE ladder, COALESCE year chain, NULLIF
  * divide-guard rates, UNION ALL unpivot, and the L-stage checks
  * (mart_views.sql / specs.py:264-331 analogues).
  */
class MartSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s + " 00:00:00")

  // orders: (key, custkey, status, price, date)
  private def fixtures = {
    val s = spark; import s.implicits._
    val orders = Seq(
      (1L, 10L, "F", 100.0, ts("2024-03-01")),              // fulfilled
      (2L, 10L, "O", 150.0, ts("2024-06-01")),              // open
      (3L, 11L, "F", 200.0, null.asInstanceOf[Timestamp]),  // year from shipdate (fallback)
      (4L, 11L, "F", 250.0, ts("2025-01-01")))              // fully returned
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    // discounts are exact binary fractions so the cents arithmetic in the
    // assertions is exact
    val lineitem = Seq(
      (1L, 7L, 10.0, 0.25, "N", ts("2024-03-05")),
      (1L, 8L, 20.0, 0.0, "N", ts("2024-03-06")),
      (2L, 7L, 30.0, 0.5, "N", ts("2024-06-05")),
      (3L, 8L, 40.0, 0.0, "N", ts("2023-12-30")),
      (4L, 7L, 50.0, 0.0, "R", ts("2025-01-05")))
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_discount", "l_returnflag", "l_shipdate")
      .withColumn("l_extendedprice", col("l_quantity") * 10.0)
    val customer = Seq((10L, "AUTO"), (11L, "BLDG"))
      .toDF("c_custkey", "c_mktsegment")
    (orders, lineitem, customer)
  }

  test("KPI view: CASE ladder outcomes, year fallback chain, guarded rates") {
    val (o, l, c) = fixtures
    val kpi = Mart.orderSeasonKpi(o, l, c).collect()
      .map(r => (r.getAs[String]("c_mktsegment"), r.getAs[Int]("season_year")) -> r).toMap
    // order 3 has NULL o_orderdate → year inferred from MIN(l_shipdate)=2023
    assert(kpi.contains(("BLDG", 2023)))
    val auto24 = kpi(("AUTO", 2024))
    assert(auto24.getAs[Long]("orders_total") === 2)
    assert(auto24.getAs[Long]("orders_fulfilled") === 1) // order 1 (F, no returns)
    assert(auto24.getAs[Long]("orders_open") === 1)      // order 2
    assert(auto24.getAs[Double]("fulfilled_rate") === 0.5)
    // order 4: every line returned → RETURNED outranks status F
    val bldg25 = kpi(("BLDG", 2025))
    assert(bldg25.getAs[Long]("orders_returned") === 1)
    assert(bldg25.getAs[Double]("returned_rate") === 1.0)
  }

  test("party unpivot: two rows per lineitem, exact integer-cents revenue") {
    val (o, l, _) = fixtures
    val party = Mart.partySeasonResults(o, l)
    // 5 lineitems × 2 roles, grouped: cust side 4 groups (10/2024 ×2 merged), supp side varies
    assert(party.agg(sum(col("n_items"))).head.getLong(0) === 10L)
    val cust10 = party.filter(col("role") === "cust" && col("party_id") === 10L &&
      col("season_year") === 2024).head()
    // order1: 100*0.75*100 + 200*1.0*100 cents; order2: 300*0.5*100
    assert(cust10.getAs[Long]("revenue_cents") === 7500L + 20000L + 15000L)
    assert(cust10.getAs[Long]("n_items") === 3L)
  }

  test("L-stage checks pass on the derived views and flag a missing year") {
    val (o, l, c) = fixtures
    val kpi = Mart.orderSeasonKpi(o, l, c)
    val party = Mart.partySeasonResults(o, l)
    val out = Mart.runChecks(kpi, party).map(x => x.checkName -> x).toMap
    assert(out.values.forall(_.status == "PASS"))
    // inject a KPI row with the year sentinel → missing-year check FAILs
    val broken = kpi.unionByName(
      kpi.limit(1).withColumn("season_year", lit(-1)))
    val out2 = Mart.runChecks(broken, party).map(x => x.checkName -> x).toMap
    assert(out2("mart_kpi_missing_year").status === "FAIL")
    assert(out2("mart_kpi_missing_year").rowsFailed === 1)
  }

  test("runChecks: a failing KPI job leaves no party job running when it throws") {
    val (o, l, c) = fixtures
    val failing = udf { (n: Long) =>
      Thread.sleep(500)
      if (n > Long.MinValue) throw new IllegalStateException("kpi job failed")
      n
    }
    val slow = udf { (id: Long) => Thread.sleep(3000); id }
    val kpi = Mart.orderSeasonKpi(o, l, c)
      .withColumn("orders_total", failing(col("orders_total")))
    val party = spark.range(0, 2, 1, 2).select(lit("cust").as("role"),
      slow(col("id")).as("party_id"), lit(2024).as("season_year"))
    val running = jobsRunningAfter {
      intercept[Exception](Mart.runChecks(kpi, party))
      ()
    }
    assert(running.isEmpty, s"job(s) $running still running after runChecks threw")
  }
}
