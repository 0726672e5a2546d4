package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.synth.Synth

/** Approximate operators against their exact twins, measured across seeds
  * rather than at one point (the methodology of "An Experimental Analysis
  * of Quantile Sketches over Data Streams", EDBT 2023).
  *
  * KLL (Spark's `kll_sketch_*_double` built-ins at the default k = 200):
  * every returned quantile's normalized rank must lie within 2ε of the
  * requested rank, ε = `KllSketch.getNormalizedRankError(200, false)` — the
  * sketch's bound at 99% confidence, doubled so that no seed can flake.
  */
class ApproxBoundsSpec extends SparkSpec {
  import ApproxBoundsSpec._

  // every case runs over all of these
  private val seeds = Seq(42L, 7L, 99L, 1234L, 31337L)

  private def quantilesOf(sketch: Column, qs: Seq[Double]): Column =
    kll_sketch_get_quantile_double(sketch, array(qs.map(lit): _*))

  private def toDf(xs: Array[Double]): DataFrame = {
    val s = spark; import s.implicits._
    xs.toSeq.toDF("x")
  }

  test("KLL quantiles on skewed data: rank error <= 2 eps, endpoints exact") {
    val qs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0)
    for (seed <- seeds) {
      val xs = Array.tabulate(20000)(i => skewed(seed + i))
      val sorted = xs.sorted
      val est = toDf(xs).agg(quantilesOf(kll_sketch_agg_double(col("x")), qs))
        .head().getSeq[Double](0)
      qs.zip(est).foreach { case (q, e) => assertRank(sorted, q, e, s"seed=$seed") }
      assert(est.head == sorted.head && est.last == sorted.last,
        s"seed=$seed: endpoints ${est.head}/${est.last} vs ${sorted.head}/${sorted.last}")
    }
  }

  test("KLL chunk sketches merged: n preserved, size bounded, rank error <= 2 eps") {
    val qs = Seq(0.0, 0.1, 0.5, 0.9, 0.99, 1.0)
    for (seed <- seeds) {
      val xs = Array.tabulate(30000)(i => skewed(seed + i))
      val sorted = xs.sorted
      val df = toDf(xs)
      val whole = df.agg(kll_sketch_agg_double(col("x")).as("sk"))
      // ten chunk sketches (per-partition sketches), merged without
      // touching the rows again
      val merged = df.withColumn("chunk", monotonically_increasing_id() % 10)
        .groupBy(col("chunk")).agg(kll_sketch_agg_double(col("x")).as("sk"))
        .agg(kll_merge_agg_double(col("sk")).as("sk"))
      for ((label, sk) <- Seq("whole" -> whole, "merged" -> merged)) {
        val r = sk.select(kll_sketch_get_n_double(col("sk")), length(col("sk")),
          quantilesOf(col("sk"), qs)).head()
        assert(r.getAs[Number](0).longValue == xs.length, s"seed=$seed $label: n")
        assert(r.getInt(1) <= MaxSketchBytes, s"seed=$seed $label: ${r.getInt(1)} bytes")
        val est = r.getSeq[Double](2)
        qs.zip(est).foreach { case (q, e) => assertRank(sorted, q, e, s"seed=$seed $label") }
        assert(est.head == sorted.head && est.last == sorted.last, s"seed=$seed $label: min/max")
      }
    }
  }

  test("KLL groupBy sketches merged in Spark match exact percentile") {
    val s = spark; import s.implicits._
    val n = 20000
    val qs = Seq(0.5, 0.95)
    for (seed <- seeds) {
      val df = spark.range(0, n, 1, 8)
        .map(i => (i % 4, skewed(seed + i)))
        .toDF("g", "x")
        .cache()
      val sorted = df.select("x").as[Double].collect().sorted
      val exact = df.agg(percentile(col("x"), array(qs.map(lit): _*)))
        .head().getSeq[Double](0)
      val est = df.agg(quantilesOf(kll_sketch_agg_double(col("x")), qs))
        .head().getSeq[Double](0)
      // per-group sketches, merged in Spark: no driver-side reduce
      val r = df.groupBy(col("g")).agg(kll_sketch_agg_double(col("x")).as("sk"))
        .agg(kll_merge_agg_double(col("sk")).as("sk"))
        .select(kll_sketch_get_n_double(col("sk")), quantilesOf(col("sk"), qs))
        .head()
      assert(r.getAs[Number](0).longValue == n)
      val merged = r.getSeq[Double](1)
      for ((((q, x), e), m) <- qs.zip(exact).zip(est).zip(merged)) {
        assertRank(sorted, q, e, s"seed=$seed whole (exact $x)")
        assertRank(sorted, q, m, s"seed=$seed merged (exact $x)")
      }
      df.unpersist()
    }
  }

  test("profilePerPartition emits mergeable per-partition dur_ms_kll sketches") {
    val s = spark; import s.implicits._
    val (parts, rows) = (3, 400L)
    for (seed <- seeds) {
      // the clip generator's row range, shifted by the seed
      val from = seed * parts * rows
      val clips = spark.range(from, from + parts * rows, 1L, parts)
        .map(i => Synth.clipAt(i, parts, rows, 400))
        .toDF().drop("bytes")
      val prof = graft.checks.ColumnStats.profilePerPartition(
        clips, "part_id", Seq("clip_id"), sketchCols = Seq("dur_ms"))
      assert(prof.count() === parts)
      val r = prof.agg(kll_merge_agg_double(col("dur_ms_kll")).as("sk"))
        .select(kll_sketch_get_n_double(col("sk")),
          kll_sketch_get_quantile_double(col("sk"), lit(0.5)))
        .head()
      val exact = clips.select(col("dur_ms").cast("double")).as[Double].collect().sorted
      assert(r.getAs[Number](0).longValue == exact.length)
      assertRank(exact, 0.5, r.getDouble(1), s"seed=$seed median")
    }
  }
}

object ApproxBoundsSpec {
  import org.scalatest.Assertions.assert

  /** KLL's normalized rank error for one quantile at k = 200, 99% confidence. */
  val Eps: Double = org.apache.datasketches.kll.KllSketch.getNormalizedRankError(200, false)

  /** A serialized k = 200 double sketch stays a few KB at any n. */
  val MaxSketchBytes = 8192

  /** Deterministic log-normal-ish skew via splitmix64: most mass small,
    * long right tail.
    */
  def skewed(key: Long): Double = {
    val u = (Synth.mix64(key) >>> 11).toDouble / (1L << 53).toDouble
    math.exp(u * 6.0)
  }

  /** Distance from `q` to the normalized rank interval of `v` in `sorted`:
    * [#(< v), #(≤ v)] / n. Zero when `v` is an exact `q`-quantile; ties
    * widen the interval instead of counting as error.
    */
  def rankError(sorted: Array[Double], q: Double, v: Double): Double = {
    val n = sorted.length.toDouble
    val lo = sorted.count(_ < v) / n
    val hi = sorted.count(_ <= v) / n
    if (q < lo) lo - q else if (q > hi) q - hi else 0.0
  }

  def assertRank(sorted: Array[Double], q: Double, v: Double, ctx: String): Unit = {
    val err = rankError(sorted, q, v)
    assert(err <= 2 * Eps, s"$ctx q=$q est=$v rank error $err > 2ε = ${2 * Eps}")
  }
}
