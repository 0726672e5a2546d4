package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT interpolated quantiles computed distributedly — the scalable
  * replacement for SQL `percentile(col, q)`, which buffers every value of
  * the group in one aggregation buffer (an executor-memory scale-killer on
  * a 10^12-row table; the approximate path for monitoring is
  * percentile_approx / the KLL sketches of
  * [[ColumnStats.profilePerPartition]], this operator is for
  * when the verdict must be EXACT, e.g. oracle parity checks).
  *
  * Classic distributed k-th-element selection:
  *  1. range-partition the value column (repartitionByRange) and sort
  *     within partitions — a single narrow-column shuffle, the same cost
  *     class as any ORDER BY, with no per-node buffering of the whole set;
  *  2. one narrow pass counts rows per partition → cumulative offsets;
  *  3. the target global ranks (floor/ceil of q·(n−1), the SQL
  *     quantile_cont positions) map to (partition, local index) pairs;
  *  4. a second pass extracts ONLY those indexed values per partition;
  *  5. linear interpolation between the two straddling values
  *     (v = lo + frac·(hi−lo), identical to quantile_cont semantics).
  *
  * Driver memory is O(#quantiles); executor memory is bounded by partition
  * size, tunable via `partitions` independent of data volume.
  */
object ExactQuantiles {

  def quantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                partitions: Int = 0): Seq[Double] = {
    val spark = df.sparkSession
    import spark.implicits._
    val nParts =
      if (partitions > 0) partitions else spark.sparkContext.defaultParallelism * 2
    val vals = df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .repartitionByRange(nParts, col("v"))
      .sortWithinPartitions(col("v"))
      .as[Double]
    vals.persist()
    try {
      val counts = vals.rdd
        .mapPartitionsWithIndex { (i, it) =>
          // count with a Long accumulator — Iterator.size returns Int and
          // would wrap beyond 2^31 rows per partition
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          Iterator((i, n))
        }
        .collect().sortBy(_._1).map(_._2)
      val n = counts.sum
      if (n == 0) return qs.map(_ => Double.NaN)
      val offsets = counts.scanLeft(0L)(_ + _) // offsets(i) = rank of partition i's first row
      // quantile_cont positions: pos = q*(n-1); need ranks floor(pos), ceil(pos)
      val positions = qs.map(q => q * (n - 1))
      val wantedRanks = positions.flatMap(p =>
        Seq(math.floor(p).toLong, math.ceil(p).toLong)).distinct.sorted
      // rank -> (partition, local index)
      val locate = wantedRanks.map { r =>
        val p = offsets.lastIndexWhere(_ <= r) // offsets has nParts+1 entries
        val part = math.min(p, counts.length - 1)
        (r, part, r - offsets(part))
      }
      val byPart = locate.groupBy(_._2).map { case (p, xs) =>
        (p, xs.map(x => (x._3, x._1))) // (localIdx, rank), localIdx ascending
      }
      val bc = spark.sparkContext.broadcast(byPart)
      val found: Map[Long, Double] = vals.rdd
        .mapPartitionsWithIndex { (i, it) =>
          bc.value.get(i) match {
            case None => Iterator.empty
            case Some(wanted) =>
              val sortedWanted = wanted.sortBy(_._1)
              val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
              var wi = 0
              var idx = 0L
              while (wi < sortedWanted.length && it.hasNext) {
                val v = it.next()
                while (wi < sortedWanted.length && sortedWanted(wi)._1 == idx) {
                  out += ((sortedWanted(wi)._2, v)); wi += 1
                }
                idx += 1
              }
              out.iterator
          }
        }.collect().toMap
      positions.map { p =>
        val lo = found(math.floor(p).toLong)
        val hi = found(math.ceil(p).toLong)
        val frac = p - math.floor(p)
        lo + frac * (hi - lo)
      }
    } finally { vals.unpersist(); () }
  }
}
