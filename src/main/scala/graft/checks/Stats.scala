package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column profile stats — generalization of the reference's
  * completeness checks (`src/app2/validators/stg/completeness_suite`,
  * null/count checks) and mart min/max aggregates
  * (`sql/initdb/mart_views.sql:25-27`), extended per the north_star with
  * approx-distinct (HLL++) and approximate quantiles.
  *
  * All columns are profiled in ONE aggregate pass (single scan, partial+final
  * agg, 1-row result) — the C16 single-statement pivot pattern. At 10^12 rows
  * this is a map-side-combined tree of fixed-size sketches; nothing is
  * proportional to row count on the driver.
  */
object ColumnStats {

  final case class ColumnProfile(
      column: String,
      count: Long,
      nullCount: Long,
      nullRate: Double,
      approxDistinct: Long,
      min: Option[String],
      max: Option[String],
      quantiles: Option[Seq[Double]]) // p25/p50/p75/p95 for numeric cols

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def isOrdered(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  /** Profile the given columns (default: every non-binary column — `bytes`
    * is excluded so column pruning keeps the heavy payload out of the scan,
    * SURVEY.md §7.5 "binary column at scale").
    *
    * `exactDistinct = false` (default, the monitoring path): HLL++
    * approx_count_distinct — fixed-size sketch, mergeable, cheap at any
    * scale, folded into the one-pass pivot. `true` (oracle-parity / audit):
    * exact COUNT(DISTINCT) per column — N countDistincts in ONE aggregate
    * would plan an Expand that multiplies every input row (N+1)× and, with
    * any TypedImperativeAggregate present, demotes the whole thing to
    * ObjectHashAggregate; instead each column's distinct count runs as its
    * own codegen'd two-phase job (a pruned single-column scan), all N
    * submitted CONCURRENTLY so the executors pipeline them.
    */
  def profile(df: DataFrame, columns: Seq[String] = Nil,
              exactDistinct: Boolean = false,
              includeQuantiles: Boolean = true): Seq[ColumnProfile] = {
    val fields = df.schema.fields.filter(f =>
      if (columns.nonEmpty) columns.contains(f.name)
      else f.dataType != BinaryType)
    // one shared total-row count (count(lit(1)) is identical per column;
    // N copies would waste aggregate buffers in a pass that must stay
    // under codegen field limits)
    val aggs = Seq(count(lit(1)).as("__total")) ++ fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls")) ++
        (if (exactDistinct) Nil
         else Seq(approx_count_distinct(c).as(s"${f.name}__adist"))) ++
        (if (isOrdered(f.dataType))
           Seq(min(c).cast(StringType).as(s"${f.name}__min"),
               max(c).cast(StringType).as(s"${f.name}__max"))
         else Nil) ++
        // percentile_approx is a TypedImperativeAggregate: its presence
        // demotes the ENTIRE aggregate to ObjectHashAggregate (no codegen) —
        // expensive when combined with exactDistinct's Expand row
        // multiplication. Callers that discard quantiles should skip it.
        (if (includeQuantiles && isNumeric(f.dataType))
           Seq(percentile_approx(c.cast(DoubleType),
                 array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)), lit(5000))
             .as(s"${f.name}__q"))
         else Nil)
    }
    val (row, exactByCol) = graft.Settle(
      df.agg(aggs.head, aggs.tail: _*).head(),
      if (!exactDistinct) Map.empty[String, Long]
      else graft.Settle.all(fields.toSeq.map(f => () =>
        f.name -> df.select(col(f.name)).filter(col(f.name).isNotNull).distinct().count())).toMap)
    def get[T](n: String): Option[T] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getAs[T](i))
    }
    fields.toSeq.map { f =>
      val cnt = get[Long]("__total").getOrElse(0L)
      val nulls = get[Long](s"${f.name}__nulls").getOrElse(0L)
      ColumnProfile(
        column = f.name,
        count = cnt,
        nullCount = nulls,
        nullRate = if (cnt == 0) 0.0 else nulls.toDouble / cnt,
        approxDistinct =
          if (exactDistinct) exactByCol.getOrElse(f.name, 0L)
          else get[Long](s"${f.name}__adist").getOrElse(0L),
        min = if (isOrdered(f.dataType)) get[String](s"${f.name}__min") else None,
        max = if (isOrdered(f.dataType)) get[String](s"${f.name}__max") else None,
        quantiles =
          if (includeQuantiles && isNumeric(f.dataType))
            get[scala.collection.Seq[Double]](s"${f.name}__q").map(_.toSeq)
          else None)
    }
  }

  /** Same profile grouped by partition key — one row per partition, used by
    * the per-partition verdict + checkpoint metrics. With `sketchCols`, each
    * named numeric column additionally gets a serialized KLL quantile sketch
    * `<col>_kll` (Spark's `kll_sketch_agg_double`, default k = 200; NULL
    * and NaN skipped), so global quantiles can later come from checkpoint rows
    * without rescanning the data: `kll_merge_agg_double` merges the
    * partitions' sketches and `kll_sketch_get_quantile_double` reads
    * quantiles off the merge. Bound: a returned quantile's normalized rank
    * is within ε = `KllSketch.getNormalizedRankError(200, false)` ≈ 1.33%
    * of the requested rank at 99% confidence, for any input and after any
    * number of merges; quantiles 0 and 1 are the exact min and max.
    */
  def profilePerPartition(df: DataFrame, partCol: String,
                          columns: Seq[String],
                          sketchCols: Seq[String] = Nil): DataFrame = {
    val aggs = columns.flatMap { name =>
      val c = col(name)
      Seq(
        count(lit(1)).as(s"${name}_cnt"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${name}_nulls"),
        approx_count_distinct(c).as(s"${name}_adist"))
    } ++ sketchCols.map { name =>
      kll_sketch_agg_double(col(name).cast(DoubleType)).as(s"${name}_kll")
    }
    df.groupBy(col(partCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Shannon-entropy profile of a categorical column: one row per
    * category with its exact count and per-category entropy term
    * `floor(−p·log2(p)·1e9)` (p = cnt/total) — the caller sums the terms
    * for H(X) in bits. Low entropy on a supposedly-diverse column flags
    * collapsed upstream joins / constant-fill corruption; high entropy on
    * a domain column flags junk values — the information-theoretic twin
    * of the domain checks.
    *
    * Exact counts from one groupBy; the grand total is a one-row
    * aggregate of those counts attached by broadcast cross-join — NOT a
    * global (unpartitioned) window, which would drag every category row
    * through a single partition when the column has millions of
    * categories. Both branches share the groupBy's shuffle (Spark reuses
    * the identical exchange), so the input is still scanned once. Terms
    * are emitted per category (fixed expression shape, oracle-exact)
    * rather than summed in an unordered float aggregate — the same
    * determinism discipline as [[Drift.chiSquareCategorical]].
    */
  def entropyProfile(df: DataFrame, column: String): DataFrame = {
    val counts = df.filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("category"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    val p = col("cnt").cast("double") / col("__total").cast("double")
    counts.crossJoin(broadcast(total))
      .select(col("category"), col("cnt"),
        floor(-(p * log2(p)) * lit(1e9)).cast("long").as("entropy_term_1e9"))
  }

  /** Exact equi-width histogram of a numeric column: `bins` buckets over
    * the column's observed [min, max], one row per non-empty bin —
    * (bin, cnt). The profiling primitive behind the drift layer's fixed
    * grids ([[Drift]]) when no grid is known in advance.
    *
    * Two aggregates, both cheap: a one-row (min, max) pass, broadcast
    * cross-joined onto the scan, then one hash aggregation on the bin
    * index. The bin index `least(floor((v − min)/w), bins−1)` uses a
    * single subtraction, divide, and floor in doubles — a fixed IEEE
    * expression both engines evaluate identically — with the `least`
    * clamp folding v = max into the last bucket. Degenerate min = max
    * collapses to one bin 0 row rather than dividing by zero.
    */
  def histogram(df: DataFrame, column: String, bins: Int = 16): DataFrame = {
    require(bins > 0, "bins must be positive")
    val v = col(column).cast("double")
    val vals = df.filter(v.isNotNull).select(v.as("__v"))
    val ext = vals.agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val width = (col("__hi") - col("__lo")) / lit(bins.toDouble)
    vals.crossJoin(broadcast(ext))
      .select(when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(floor((col("__v") - col("__lo")) / width),
          lit(bins - 1L)).cast("long")).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
  }
}
