package graft.checks

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.model._

/** Distribution-drift detection (north_star; no reference counterpart —
  * generalizes the reference's golden-snapshot diffing, `report.py:538-662`,
  * to distributions).
  *
  * A fixed-bin histogram is computed per side with a custom mergeable
  * `Aggregator` (map-side partial merge == treeAggregate semantics: each
  * task folds rows into a small Array[Long], partials merge pairwise, one
  * tiny struct reaches the driver). KS and PSI statistics are then pure
  * driver math on the two merged histograms — O(bins), independent of row
  * count.
  */
object Drift {

  final case class Histogram(lo: Double, hi: Double, counts: Array[Long]) {
    def total: Long = counts.sum
    def cdf: Array[Double] = {
      val t = total.toDouble.max(1.0)
      val out = new Array[Double](counts.length)
      var acc = 0L
      var i = 0
      while (i < counts.length) { acc += counts(i); out(i) = acc / t; i += 1 }
      out
    }
    def pdf(eps: Double = 1e-6): Array[Double] = {
      val t = total.toDouble.max(1.0)
      counts.map(c => math.max(c / t, eps))
    }
  }

  /** Mergeable fixed-bin histogram Aggregator. Values outside [lo,hi) clamp
    * to the edge bins; nulls are skipped by the caller's projection.
    */
  class HistogramAgg(lo: Double, hi: Double, bins: Int)
      extends Aggregator[Double, Array[Long], Histogram] {
    require(bins > 1 && hi > lo)
    private val width = (hi - lo) / bins
    override def zero: Array[Long] = new Array[Long](bins)
    override def reduce(b: Array[Long], x: Double): Array[Long] = {
      if (x.isNaN) return b // NaN belongs to no bin (matches na.drop upstream)
      val i = math.min(bins - 1, math.max(0, ((x - lo) / width).toInt))
      b(i) += 1L
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Histogram = Histogram(lo, hi, b)
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Histogram] = Encoders.product[Histogram]
  }

  /** Distributed histogram of a numeric column via the Aggregator. */
  def histogram(df: DataFrame, column: String, lo: Double, hi: Double,
                bins: Int = 64): Histogram = {
    import df.sparkSession.implicits._
    val agg = new HistogramAgg(lo, hi, bins).toColumn
    df.select(col(column).cast("double")).na.drop()
      .as[Double].select(agg.as[Histogram]).head()
  }

  /** The fixed-grid bin of a double column: `floor((v − lo) / width)`
    * clamped to `[0, bins)` — values outside `[lo, hi)` land in the edge
    * bins, as in [[HistogramAgg]]. The clamp runs before the int cast, so
    * an infinite or huge value never overflows it.
    */
  def binOf(v: org.apache.spark.sql.Column, lo: Double, hi: Double,
            bins: Int): org.apache.spark.sql.Column =
    least(lit(bins - 1L), greatest(lit(0L), floor((v - lit(lo)) / lit((hi - lo) / bins))))
      .cast("int")

  /** Histograms of `column` over both tables in ONE narrow aggregate:
    * `groupBy([keys,] side, bin).count()` over the union of the two
    * projections (side 0 = ref, 1 = cand). Null and NaN values belong to
    * no bin (the na.drop of [[histogram]]). Returns one (ref, cand)
    * histogram pair per distinct key tuple; a side with no values reads
    * as all-zero counts.
    */
  def histogramPairs(ref: DataFrame, cand: DataFrame, keys: Seq[String], column: String,
                     lo: Double, hi: Double, bins: Int): Map[Seq[Any], (Histogram, Histogram)] = {
    def side(df: DataFrame, tag: Int) = df
      .select(keys.map(col) :+ col(column).cast("double").as("__v"): _*)
      .withColumn("__side", lit(tag))
    val rows = side(ref, 0).unionByName(side(cand, 1))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .groupBy(keys.map(col) ++ Seq(col("__side"), binOf(col("__v"), lo, hi, bins).as("bin")): _*)
      .count().collect()
    val k = keys.size
    rows.groupBy(r => (0 until k).map(r.get)).map { case (key, rs) =>
      val counts = Array.fill(2)(new Array[Long](bins))
      rs.foreach(r => counts(r.getInt(k))(r.getInt(k + 1)) = r.getLong(k + 2))
      key -> (Histogram(lo, hi, counts(0)), Histogram(lo, hi, counts(1)))
    }
  }

  /** Histograms must share the SAME grid — equal bin counts over
    * different [lo,hi) ranges would compare incommensurable bins and
    * return a meaningless (possibly falsely-passing) statistic.
    */
  private def requireSameGrid(a: Histogram, b: Histogram): Unit =
    require(a.counts.length == b.counts.length && a.lo == b.lo && a.hi == b.hi,
      s"histogram grids differ: [${a.lo},${a.hi})x${a.counts.length} vs " +
        s"[${b.lo},${b.hi})x${b.counts.length}")

  /** Kolmogorov–Smirnov statistic between two histograms on the same grid. */
  def ks(a: Histogram, b: Histogram): Double = {
    requireSameGrid(a, b)
    val ca = a.cdf; val cb = b.cdf
    var m = 0.0
    var i = 0
    while (i < ca.length) { m = math.max(m, math.abs(ca(i) - cb(i))); i += 1 }
    m
  }

  /** Population Stability Index between two histograms on the same grid. */
  def psi(expected: Histogram, actual: Histogram): Double = {
    requireSameGrid(expected, actual)
    val pe = expected.pdf(); val pa = actual.pdf()
    var s = 0.0
    var i = 0
    while (i < pe.length) { s += (pa(i) - pe(i)) * math.log(pa(i) / pe(i)); i += 1 }
    s
  }

  /** Wasserstein-1 (earth-mover) distance between two histograms on the
    * same grid: W₁ = Σᵢ |CDF_a(i) − CDF_b(i)| · binWidth. Complements
    * KS (max CDF gap — insensitive to HOW FAR probability mass moved) and
    * PSI (log-ratio of bin masses — blind to bin ADJACENCY): a uniform
    * +2-bin shift of the whole distribution moves W₁ proportionally to
    * the shift distance, which is exactly the "distribution slid sideways"
    * drift (clock skew, unit change, resample) the other two understate.
    */
  def emd(a: Histogram, b: Histogram): Double = {
    requireSameGrid(a, b)
    val ca = a.cdf; val cb = b.cdf
    val width = (a.hi - a.lo) / ca.length
    var s = 0.0
    var i = 0
    while (i < ca.length) { s += math.abs(ca(i) - cb(i)) * width; i += 1 }
    s
  }

  /** Per-bin Wasserstein-1 terms between two sides of a numeric column on
    * a shared fixed grid — the cross-engine-checkable decomposition of
    * [[emd]], following the [[psiTerms]]/[[chiSquareCategorical]] design:
    * one row per grid bin carrying exact counts and the term
    * `|cum_ref/total_ref − cum_cand/total_cand| · width` as
    * `floor(term·1e6)` — the term is two integer-exact cumulative counts,
    * two divides, one subtract/abs/multiply, bit-reproducible on any IEEE
    * engine, so the oracle twin recomputing it from the same counts
    * hash-matches. Unlike PSI's log terms, the |CDF gap| SUM is itself
    * order-independent in exact arithmetic, but the emitted decomposition
    * keeps the gate conservative (terms compared exactly; the caller sums
    * in bin order like [[chiSquareCheck]]).
    *
    * One scan: both sides tagged and unioned, one groupBy(bin) with
    * map-side-combined conditional counts, bins densified against the
    * tiny `spark.range(bins)` table. Cumulative counts come from a
    * TRIANGULAR BROADCAST JOIN over the dense bin table (bins² pairs of a
    * bounded-by-contract grid — never a global unpartitioned window,
    * which would drag rows through one task if this shape were ever
    * reused on an unbounded key). Totals ride a broadcast one-row
    * aggregate. Output: (bin, cnt_ref, cnt_cand, emd_term_1e6).
    */
  def emdTerms(expected: DataFrame, actual: DataFrame, column: String,
               lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 1 && bins <= 4096 && hi > lo,
      "emdTerms: need 1 < bins <= 4096 and hi > lo")
    val width = (hi - lo) / bins
    def side(df: DataFrame, tag: Int) = df
      .select(col(column).cast("double").as("__v"), lit(tag).as("__side"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val binCol = binOf(col("__v"), lo, hi, bins)
    val counts = side(expected, 0).unionByName(side(actual, 1))
      .groupBy(binCol.as("bin"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("cnt_ref"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cnt_cand"))
    val spark = expected.sparkSession
    val allBins = spark.range(bins).select(col("id").cast("int").as("bin"))
    val dense = allBins.join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("cnt_ref", "cnt_cand"))
    val cum = dense.as("a")
      .join(broadcast(dense.select(col("bin").as("__b_bin"),
        col("cnt_ref").as("__b_ref"), col("cnt_cand").as("__b_cand"))),
        col("__b_bin") <= col("a.bin"))
      .groupBy(col("a.bin").as("bin"), col("a.cnt_ref").as("cnt_ref"),
        col("a.cnt_cand").as("cnt_cand"))
      .agg(sum(col("__b_ref")).as("__cum_ref"),
        sum(col("__b_cand")).as("__cum_cand"))
    val totals = dense.agg(sum(col("cnt_ref")).as("__tref"),
      sum(col("cnt_cand")).as("__tcand"))
    val cdfRef = col("__cum_ref").cast("double") /
      greatest(col("__tref").cast("double"), lit(1.0))
    val cdfCand = col("__cum_cand").cast("double") /
      greatest(col("__tcand").cast("double"), lit(1.0))
    cum.crossJoin(broadcast(totals))
      .select(col("bin"), col("cnt_ref"), col("cnt_cand"),
        floor(abs(cdfRef - cdfCand) * lit(width) * lit(1e6)).cast("long")
          .as("emd_term_1e6"))
  }

  /** PER-GROUP Wasserstein-1 terms — [[emdTerms]] stratified by a bounded
    * grouping column (codec, sr_hz…): one row per (group, bin) with the
    * |CDF gap|·width term as `floor(term·1e6)`, so each group's
    * shift-distance statistic is the bin-ordered sum of its rows (same
    * driver-side fold contract as [[emdCheck]]). Closes the drift-family
    * matrix: KS has a global and a per-group form, PSI a global and a
    * per-bin-terms form — this is EMD's per-group decomposition.
    *
    * Unlike [[groupedKs]], DENSIFICATION IS REQUIRED: a bin absent from
    * both sides still carries the PREVIOUS |CDF gap| into the sum (the
    * gap persists across empty bins), so every (group, bin) cell must
    * appear — built as distinct-groups × broadcast `spark.range(bins)`
    * (|groups|·bins rows, payload-free; the grouping column is bounded
    * by contract, same as [[groupedKsCheck]]). Cumulative and total
    * counts ride per-group windows over that aggregate — bounded at
    * `bins` rows per partition, never a global window.
    */
  def groupedEmdTerms(ref: DataFrame, cand: DataFrame, groupCol: String,
                      column: String, lo: Double, hi: Double,
                      bins: Int): DataFrame = {
    require(bins > 1 && bins <= 4096 && hi > lo,
      "groupedEmdTerms: need 1 < bins <= 4096 and hi > lo")
    val width = (hi - lo) / bins
    def side(df: DataFrame, tag: Int) = df
      .select(col(groupCol).cast("string").as("grp"),
        col(column).cast("double").as("__v"), lit(tag).as("__side"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) && col("grp").isNotNull)
    val binCol = binOf(col("__v"), lo, hi, bins)
    val counts = side(ref, 0).unionByName(side(cand, 1))
      .groupBy(col("grp"), binCol.as("bin"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("cnt_ref"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cnt_cand"))
    val spark = ref.sparkSession
    val allBins = spark.range(bins).select(col("id").cast("int").as("bin"))
    val dense = counts.select(col("grp")).distinct()
      .crossJoin(broadcast(allBins))
      .join(counts, Seq("grp", "bin"), "left")
      .na.fill(0L, Seq("cnt_ref", "cnt_cand"))
    val byGroup = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val cumW = byGroup.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val withCdf = dense
      .withColumn("__cum_ref", sum(col("cnt_ref")).over(cumW))
      .withColumn("__cum_cand", sum(col("cnt_cand")).over(cumW))
      .withColumn("__tref", sum(col("cnt_ref")).over(byGroup))
      .withColumn("__tcand", sum(col("cnt_cand")).over(byGroup))
    val cdfRef = col("__cum_ref").cast("double") /
      greatest(col("__tref").cast("double"), lit(1.0))
    val cdfCand = col("__cum_cand").cast("double") /
      greatest(col("__tcand").cast("double"), lit(1.0))
    withCdf.select(col("grp"), col("bin"), col("cnt_ref"), col("cnt_cand"),
      floor(abs(cdfRef - cdfCand) * lit(width) * lit(1e6)).cast("long")
        .as("emd_term_1e6"))
  }

  /** PER-GROUP Kolmogorov–Smirnov drift — the "which partitions drifted"
    * verdict shape of the north rule (per-partition pass/fail, not one
    * corpus-wide statistic): for every group (codec, sr_hz, tenant…) the
    * KS statistic between the reference and candidate distributions of a
    * numeric column on a shared fixed grid. Output: one row per group —
    * (group, n_ref, n_cand, ks_1e6) with `ks_1e6 = floor(max |CDF gap|
    * ·1e6)`.
    *
    * FULLY cross-engine checkable, statistic included: KS is a MAX of
    * |cum_ref/total_ref − cum_cand/total_cand| values — each from two
    * integer-exact cumulative counts and one subtract/divide/abs, and max
    * is order-independent, so unlike PSI no driver-side ordered fold is
    * needed. Missing bins need no densification: a bin absent from both
    * sides repeats the previous CDF gap and can never host a new maximum.
    *
    * Scale shape: ONE scan of each side (tagged union), one shuffle on
    * (group, bin) with map-side-combined conditional counts — the
    * aggregated table is |groups|·bins rows, payload-free — then
    * PER-GROUP windows (partition = group: bounded at `bins` rows each,
    * never the unpartitioned global window PlanGuardSpec bans) for the
    * running and total counts, and a final groupBy(group) max. Skewed
    * groups cost nothing extra: the window runs on the aggregate, not
    * the raw rows.
    */
  def groupedKs(ref: DataFrame, cand: DataFrame, groupCol: String,
                column: String, lo: Double, hi: Double,
                bins: Int): DataFrame = {
    require(bins > 1 && hi > lo, "groupedKs: need bins > 1 and hi > lo")
    def side(df: DataFrame, tag: Int) = df
      .select(col(groupCol).cast("string").as("grp"),
        col(column).cast("double").as("__v"), lit(tag).as("__side"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) && col("grp").isNotNull)
    val binCol = binOf(col("__v"), lo, hi, bins)
    val counts = side(ref, 0).unionByName(side(cand, 1))
      .groupBy(col("grp"), binCol.as("bin"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("cnt_ref"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cnt_cand"))
    val byGroup = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val cumW = byGroup.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val withCdf = counts
      .withColumn("__cum_ref", sum(col("cnt_ref")).over(cumW))
      .withColumn("__cum_cand", sum(col("cnt_cand")).over(cumW))
      .withColumn("__tref", sum(col("cnt_ref")).over(byGroup))
      .withColumn("__tcand", sum(col("cnt_cand")).over(byGroup))
    val gap = abs(col("__cum_ref").cast("double") /
        greatest(col("__tref").cast("double"), lit(1.0)) -
      col("__cum_cand").cast("double") /
        greatest(col("__tcand").cast("double"), lit(1.0)))
    withCdf.groupBy(col("grp"))
      .agg(sum(col("cnt_ref")).as("n_ref"),
        sum(col("cnt_cand")).as("n_cand"),
        floor(max(gap) * lit(1e6)).cast("long").as("ks_1e6"))
  }

  /** Per-group drift verdicts from [[groupedKs]]: one CheckOutcome per
    * group above the KS threshold (bounded collect: group cardinality,
    * not row count — and the caller picks grouping columns that are
    * bounded by construction, codec/sr_hz-style).
    */
  def groupedKsCheck(ref: DataFrame, cand: DataFrame, groupCol: String,
                     column: String, lo: Double, hi: Double, bins: Int = 64,
                     ksThreshold: Double = 0.1,
                     maxGroups: Int = 10000): Seq[CheckOutcome] = {
    val rows = groupedKs(ref, cand, groupCol, column, lo, hi, bins)
      .orderBy(col("grp")).limit(maxGroups + 1).collect()
    require(rows.length <= maxGroups,
      s"groupedKsCheck: more than $maxGroups groups — per-group verdicts " +
        "need a bounded grouping column (got an unbounded key?)")
    rows.toSeq.map { r =>
      val ks = r.getAs[Long]("ks_1e6") / 1e6
      CheckOutcome(s"${column}_ks_drift[${r.getAs[String]("grp")}]",
        RuleGroup.DistributionDrift.toString, Severity.Error.toString,
        (if (ks > ksThreshold) CheckStatus.FAIL else CheckStatus.PASS).toString,
        rowsFailed = if (ks > ksThreshold) 1L else 0L,
        observedValue = Some(String.format(java.util.Locale.ROOT, "%.6f",
          Double.box(ks))),
        expectedValue = Some(s"<= $ksThreshold"))
    }
  }

  /** EMD drift verdict from [[emdTerms]]: collects the per-bin rows (grid
    * cardinality, not row count), sums the statistic in bin order,
    * compares against a threshold expressed as a FRACTION of the grid
    * span (W₁'s raw unit is the column's unit, so `0.05` means "mass
    * moved 5% of the range on average").
    */
  def emdCheck(ref: DataFrame, cand: DataFrame, column: String,
               lo: Double, hi: Double, bins: Int = 64,
               maxShiftFraction: Double = 0.05): CheckOutcome = {
    val rows = emdTerms(ref, cand, column, lo, hi, bins)
      .orderBy(col("bin")).collect()
    val stat = rows.map(_.getAs[Long]("emd_term_1e6")).sum / 1e6
    val threshold = maxShiftFraction * (hi - lo)
    CheckOutcome(s"${column}_emd_drift", RuleGroup.DistributionDrift.toString,
      Severity.Warning.toString,
      (if (stat > threshold) CheckStatus.WARN else CheckStatus.PASS).toString,
      rowsFailed = if (stat > threshold) 1L else 0L,
      observedValue = Some(String.format(java.util.Locale.ROOT, "%.6f",
        Double.box(stat))),
      expectedValue = Some(s"<= $threshold"))
  }

  /** Two-sample chi-square homogeneity test over a CATEGORICAL column —
    * the drift test for codec/sr_hz-style discrete domains where a
    * numeric-grid histogram (KS/PSI above) does not apply.
    *
    * One scan: both sides tagged and unioned, a single groupBy(category)
    * pivots the two tagged counts map-side-combined (exact longs, no
    * sketch). Per-category χ² terms are computed from the exact counts
    * with a fixed expression shape — (obs−exp)²/exp with
    * exp = rowTotal·sideTotal/grand — so an oracle recomputing them from
    * the same counts is bit-identical; the TOTAL statistic is summed
    * driver-side in category order (a deterministic fold — summing doubles
    * inside an unordered aggregate would be run-dependent).
    *
    * Returns one row per category:
    * (category, cnt_ref, cnt_cand, chi_term_1e6) — the caller sums
    * chi_term_1e6 for the statistic, df = categories − 1.
    */
  def chiSquareCategorical(ref: DataFrame, cand: DataFrame,
                           column: String): DataFrame = {
    val tagged = ref.select(col(column).cast("string").as("category"), lit(0).as("__side"))
      .unionByName(cand.select(col(column).cast("string").as("category"), lit(1).as("__side")))
    val counts = tagged.groupBy(col("category")).agg(
      sum(when(col("__side") === 0, 1L).otherwise(0L)).as("cnt_ref"),
      sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cnt_cand"))
    // side + grand totals derived from the per-category counts: a one-row
    // aggregate of long counts (deterministic) attached by broadcast
    // cross-join — NOT a global unpartitioned window, which would drag
    // every category row through a single partition when the column has
    // millions of categories (same discipline as ColumnStats.entropyProfile)
    val totals = counts.agg(sum(col("cnt_ref")).as("__tref"),
      sum(col("cnt_cand")).as("__tcand"))
    val withTotals = counts
      .crossJoin(broadcast(totals))
      .withColumn("__row", col("cnt_ref") + col("cnt_cand"))
      .withColumn("__grand", col("__tref") + col("__tcand"))
    val expRef = col("__row").cast("double") * col("__tref").cast("double") / col("__grand").cast("double")
    val expCand = col("__row").cast("double") * col("__tcand").cast("double") / col("__grand").cast("double")
    val term =
      (col("cnt_ref").cast("double") - expRef) * (col("cnt_ref").cast("double") - expRef) / expRef +
        (col("cnt_cand").cast("double") - expCand) * (col("cnt_cand").cast("double") - expCand) / expCand
    withTotals
      .select(col("category"), col("cnt_ref"), col("cnt_cand"),
        floor(term * lit(1e6)).cast("long").as("chi_term_1e6"))
  }

  /** Chi-square drift verdict from [[chiSquareCategorical]]: collects the
    * per-category rows (category cardinality, not row count), sums the
    * statistic in category order, compares to the given critical value.
    */
  def chiSquareCheck(ref: DataFrame, cand: DataFrame, column: String,
                     critical: Double): CheckOutcome = {
    val rows = chiSquareCategorical(ref, cand, column)
      .orderBy(col("category")).collect()
    val stat = rows.map(_.getAs[Long]("chi_term_1e6")).sum / 1e6
    CheckOutcome(s"${column}_chisq_drift", RuleGroup.DistributionDrift.toString,
      Severity.Error.toString,
      (if (stat > critical) CheckStatus.FAIL else CheckStatus.PASS).toString,
      rowsFailed = if (stat > critical) 1L else 0L,
      observedValue = Some(String.format(java.util.Locale.ROOT, "%.6f",
        Double.box(stat))), expectedValue = Some(s"<= $critical"))
  }

  /** Per-bin PSI terms between two sides of a numeric column on a shared
    * fixed grid — the cross-engine-checkable decomposition of [[psi]].
    *
    * PSI's total is an ORDERED sum of log terms that no SQL engine
    * guarantees a fold order for, so (exactly like
    * [[chiSquareCategorical]]'s per-category χ² rows) the statistic is
    * emitted as one row per bin with the term computed from exact counts
    * in a fixed expression shape: `p = max(cnt / max(total, 1), 1e-6)`
    * (the [[Histogram.pdf]] clamp, so empty bins contribute their epsilon
    * term instead of a NaN), `term = (pa − pe)·ln(pa/pe)`, emitted as
    * `floor(term·1e6)` — each term is ONE subtract, divide, ln, multiply,
    * bit-reproducible on any IEEE engine. The caller sums `psi_term_1e6`
    * in bin order for the statistic; every grid bin appears (dense
    * left-join against `spark.range(bins)`), matching [[psi]] which
    * iterates all bins.
    *
    * One scan: both sides tagged and unioned, one groupBy(bin) with
    * map-side-combined conditional counts, bins densified by a broadcast
    * join against the tiny bin range, totals attached as a broadcast
    * one-row aggregate — never a global window. Output: (bin, cnt_ref,
    * cnt_cand, psi_term_1e6).
    */
  def psiTerms(expected: DataFrame, actual: DataFrame, column: String,
               lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 1 && hi > lo, "psiTerms: need bins > 1 and hi > lo")
    def side(df: DataFrame, tag: Int) = df
      .select(col(column).cast("double").as("__v"), lit(tag).as("__side"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val counts = side(expected, 0).unionByName(side(actual, 1))
      .groupBy(binOf(col("__v"), lo, hi, bins).as("bin"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("cnt_ref"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cnt_cand"))
    val spark = expected.sparkSession
    val allBins = spark.range(bins).select(col("id").cast("int").as("bin"))
    val dense = allBins.join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("cnt_ref", "cnt_cand"))
    val totals = dense.agg(sum(col("cnt_ref")).as("__tref"),
      sum(col("cnt_cand")).as("__tcand"))
    val pe = greatest(col("cnt_ref").cast("double") /
      greatest(col("__tref").cast("double"), lit(1.0)), lit(1e-6))
    val pa = greatest(col("cnt_cand").cast("double") /
      greatest(col("__tcand").cast("double"), lit(1.0)), lit(1e-6))
    dense.crossJoin(broadcast(totals))
      .select(col("bin"), col("cnt_ref"), col("cnt_cand"),
        floor((pa - pe) * log(pa / pe) * lit(1e6)).cast("long")
          .as("psi_term_1e6"))
  }

  /** Benford first-significant-digit profile of a positive numeric column —
    * the classic fabricated-data / wrong-unit detector: naturally-occurring
    * multiplicative quantities follow P(d) = log10(1 + 1/d), while
    * generated or truncated data is near-uniform.
    *
    * One exact groupBy over the 9 digits (values < 1 are excluded — their
    * first significant digit would need a log rescale that drags float
    * noise into an otherwise exact count). Returns one row per digit:
    * (digit, observed, expected_1e6) where expected_1e6 =
    * floor(log10(1+1/d)·total·1e6 / total... ) — kept as the expected
    * COUNT scaled by 1e6 over total, i.e. floor(log10(1+1/d)·1e6), a
    * constant per digit so the oracle twin is trivially bit-identical.
    */
  def benfordProfile(df: DataFrame, column: String): DataFrame = {
    val firstDigit = substring(
      floor(abs(col(column).cast("double"))).cast("long").cast("string"), 1, 1)
    df.filter(abs(col(column).cast("double")) >= 1)
      .groupBy(firstDigit.cast("int").as("digit"))
      .agg(count(lit(1)).as("observed"))
      .withColumn("expected_share_1e6",
        floor(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")) * lit(1e6)).cast("long"))
  }

  /** Drift verdict: FAIL on KS above threshold, WARN on PSI above 0.2
    * (standard PSI rule of thumb), PASS otherwise.
    */
  def check(ref: DataFrame, cand: DataFrame, column: String,
            lo: Double, hi: Double, bins: Int = 64,
            ksThreshold: Double = 0.1, psiThreshold: Double = 0.2): Seq[CheckOutcome] = {
    // both sides' histogram jobs submitted concurrently (independent scans)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fr = Future(histogram(ref, column, lo, hi, bins))
    val fc = Future(histogram(cand, column, lo, hi, bins))
    val hr = Await.result(fr, Duration.Inf)
    val hc = Await.result(fc, Duration.Inf)
    val ksV = ks(hr, hc)
    val psiV = psi(hr, hc)
    Seq(
      CheckOutcome(s"${column}_ks_drift", RuleGroup.DistributionDrift.toString,
        Severity.Error.toString,
        (if (ksV > ksThreshold) CheckStatus.FAIL else CheckStatus.PASS).toString,
        rowsFailed = if (ksV > ksThreshold) 1L else 0L,
        observedValue = Some(String.format(java.util.Locale.ROOT, "%.6f",
          Double.box(ksV))), expectedValue = Some(s"<= $ksThreshold")),
      CheckOutcome(s"${column}_psi_drift", RuleGroup.DistributionDrift.toString,
        Severity.Warning.toString,
        (if (psiV > psiThreshold) CheckStatus.WARN else CheckStatus.PASS).toString,
        rowsFailed = if (psiV > psiThreshold) 1L else 0L,
        observedValue = Some(String.format(java.util.Locale.ROOT, "%.6f",
          Double.box(psiV))), expectedValue = Some(s"<= $psiThreshold")))
  }
}
