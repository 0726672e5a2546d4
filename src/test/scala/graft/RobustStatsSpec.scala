package graft

import org.apache.spark.sql.functions._
import graft.checks.{Drift, HeavyHitters, Moments, Outliers}

class RobustStatsSpec extends SparkSpec {
  import spark.implicits._

  test("madOutliers: hand-computed median/MAD/outlier counts per group") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 100.0),
        ("h", 1.0), ("h", 2.0), ("h", 3.0), ("h", 4.0))
      .toDF("grp", "v")
    val out = Outliers.madOutliers(df, "grp", "v", nSigma = 3.0)
      .orderBy("grp").collect()
    // g: sorted 1,2,3,4,100 -> med = 3 (rank 3); devs 0,1,1,2,97 -> mad = 1;
    //    threshold 3*1.4826*1 = 4.4478 -> only 97 exceeds
    assert(out(0).getString(0) == "g" && out(0).getLong(1) == 5L)
    assert(out(0).getDouble(2) == 3.0 && out(0).getDouble(3) == 1.0)
    assert(out(0).getLong(4) == 1L)
    // h (even n): sorted 1,2,3,4 -> med = rank floor(3/2)+1 = 2 (lower
    // median, quantile_disc convention); devs 1,0,1,2 -> mad = 1; no outlier
    assert(out(1).getString(0) == "h" && out(1).getLong(1) == 4L)
    assert(out(1).getDouble(2) == 2.0 && out(1).getDouble(3) == 1.0)
    assert(out(1).getLong(4) == 0L)
  }

  test("madOutliers ignores nulls and a 49% contamination leaves MAD sane") {
    val clean = (1 to 51).map(i => ("g", 10.0 + (i % 3)))
    val bad = (1 to 49).map(_ => ("g", 1e9))
    val withNull = clean ++ bad
    val df = withNull.toDF("grp", "v")
      .unionByName(Seq(("g", null.asInstanceOf[java.lang.Double]))
        .toDF("grp", "v"))
    val r = Outliers.madOutliers(df, "grp", "v").head()
    assert(r.getLong(1) == 100L)           // null row excluded
    assert(r.getDouble(2) <= 13.0)         // median stays in the clean mass
    assert(r.getLong(4) == 49L)            // every contaminated row flagged
  }

  test("corrProfile: exact +1/-1 on perfectly correlated columns") {
    val df = (1 to 5).map(i => (i.toDouble, 2.0 * i, 12.0 - 2.0 * i))
      .toDF("x", "y", "z")
    val r = Moments.corrProfile(df, Seq(("x", "y"), ("x", "z"))).head()
    assert(r.getLong(0) == 1000000L)   // floor(1.0 * 1e6)
    assert(r.getLong(1) == -1000000L)  // floor(-1.0 * 1e6)
  }

  test("corrProfile matches Spark's corr() to 1e-6 on real-shaped data") {
    val df = (1 to 500).map { i =>
      (i.toDouble % 97, (i * 31 % 89).toDouble + 0.25 * (i % 7))
    }.toDF("x", "y")
    val exact = Moments.corrProfile(df, Seq(("x", "y"))).head().getLong(0)
    val streamed = df.agg(corr(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(exact / 1e6 - streamed) < 1e-5)
  }

  test("heavyHitters: exact counts above the integer share threshold") {
    val vals = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++
      Seq.fill(15)("c") ++ Seq.fill(5)("d")
    // adversarial layout: sorted runs per partition stress the MG merges
    val df = vals.sorted.toDF("v").repartition(7)
    val out = HeavyHitters.heavyHitters(df, "v", num = 1, den = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 50L), ("b", 30L)))
  }

  test("heavyHitters sketch guarantee: tight capacity still never misses") {
    // capacity = 2*den/num = 8; 12 distinct values, one at 40%
    val vals = Seq.fill(40)("hot") ++ (1 to 60).map(i => s"v${i % 12}")
    val df = vals.toDF("v").repartition(5)
    val out = HeavyHitters.heavyHitters(df, "v", num = 1, den = 4).collect()
    assert(out.map(_.getString(0)).contains("hot"))
    assert(out.head.getString(0) == "hot" && out.head.getLong(1) == 40L)
  }

  test("chiSquareCategorical: identical distributions give zero terms") {
    val ref = (Seq.fill(10)("a") ++ Seq.fill(10)("b")).toDF("c")
    val out = Drift.chiSquareCategorical(ref, ref, "c").collect()
    assert(out.forall(_.getAs[Long]("chi_term_1e6") == 0L))
  }

  test("chiSquareCategorical: hand-computed 2x2 terms and FAIL verdict") {
    val ref = (Seq.fill(10)("a") ++ Seq.fill(10)("b")).toDF("c")
    val cand = Seq.fill(20)("a").toDF("c")
    val rows = Drift.chiSquareCategorical(ref, cand, "c")
      .orderBy("category").collect()
    // a: obs (10,20), exp (15,15) -> 25/15*2 = 10/3; b: obs (10,0),
    // exp (5,5) -> 5+5 = 10
    assert(rows(0).getAs[Long]("chi_term_1e6") == 3333333L)
    assert(rows(1).getAs[Long]("chi_term_1e6") == 10000000L)
    // the statistic is the sum of the terms; against the 1-dof 5% critical
    // value 3.84 it FAILs, and identical sides (statistic 0) PASS
    def stat(c: org.apache.spark.sql.DataFrame): Double =
      Drift.chiSquareCategorical(ref, c, "c").collect()
        .map(_.getAs[Long]("chi_term_1e6")).sum / 1e6
    assert(stat(cand) > 3.84)
    assert(stat(ref) <= 3.84)
  }

  test("entropyProfile: hand-computed terms, nulls excluded") {
    val df = (Seq.fill(3)("a") ++ Seq.fill(1)("b") ++ Seq(null)).toDF("c")
    val rows = graft.checks.ColumnStats.entropyProfile(df, "c")
      .orderBy("category").collect()
    // p(a)=0.75: floor(-(0.75*log2(0.75))*1e9) = 311278124
    // p(b)=0.25: -(0.25*-2) = 0.5 exactly
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 3L, 311278124L), ("b", 1L, 500000000L)))
    // uniform two-category entropy sums to exactly 1 bit
    val uni = (Seq.fill(4)("x") ++ Seq.fill(4)("y")).toDF("c")
    val terms = graft.checks.ColumnStats.entropyProfile(uni, "c")
      .collect().map(_.getLong(2))
    assert(terms.sum == 1000000000L)
  }

  test("benfordProfile: first significant digits, sub-1 values excluded") {
    val df = Seq(1.5, 19.0, 2.3, 0.5, 900.1).toDF("v")
    val rows = Drift.benfordProfile(df, "v").orderBy("digit").collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 2L), (2, 1L), (9, 1L)))
    // expected shares are the Benford constants floor(log10(1+1/d)*1e6)
    assert(rows(0).getAs[Long]("expected_share_1e6") == 301029L)
    assert(rows(1).getAs[Long]("expected_share_1e6") == 176091L)
    assert(rows(2).getAs[Long]("expected_share_1e6") == 45757L)
  }
}
