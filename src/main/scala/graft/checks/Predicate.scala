package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model._

/** CheckCompiler — compiles N declarative predicate checks into ONE
  * single-pass aggregate (the reference's `build_metrics_query` pivot,
  * `src/app2/etl_validation/specs.py:421-426`: every check count as a column
  * of one statement). One scan of the table evaluates every predicate check;
  * violation-row plans are produced lazily and only executed for checks that
  * actually failed (count_sql vs fail_sql dual-plan design,
  * `specs.py:6-14`).
  *
  * Scale notes: the agg is a partial+final hash aggregate with a single
  * 1-row shuffle; all predicates stay inside whole-stage codegen. Columns not
  * referenced by any predicate (notably `bytes`) are pruned from the scan.
  */
object CheckCompiler {

  /** Per-check violation counts in one scan. Returns outcomes with the
    * reference's severity policy applied.
    */
  def run(df: DataFrame, checks: Seq[Check]): Seq[CheckOutcome] = {
    require(checks.nonEmpty, "no checks")
    val aggs = checks.map(c =>
      sum(when(c.violation, lit(1L)).otherwise(lit(0L))).as(c.name))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    checks.zipWithIndex.map { case (c, i) =>
      val failed = if (row.isNullAt(i)) 0L else row.getLong(i) // null on empty input
      CheckOutcome(
        checkName = c.name,
        ruleGroup = c.ruleGroup.toString,
        severity = c.severity.toString,
        status = CheckOutcome.status(c.severity, failed).toString,
        rowsFailed = failed,
        message = if (failed > 0) Some(s"${c.name} violated by $failed row(s)") else None)
    }
  }

  /** Per-partition verdicts: same single scan, grouped by the partition key.
    * This is the "per-partition pass/fail" demanded by the north rule — one
    * shuffle keyed by part_id (tiny: one row per partition per check).
    */
  def runPerPartition(df: DataFrame, checks: Seq[Check],
                      partCol: String = "part_id"): DataFrame = {
    val aggs = checks.map(c =>
      sum(when(c.violation, lit(1L)).otherwise(lit(0L))).as(c.name))
    df.groupBy(col(partCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Violation rows (the fail_sql twin) for one check — lazy plan, run only
    * when the verdict failed. `keyCols` keeps output narrow (prunes bytes).
    */
  def violations(df: DataFrame, check: Check, keyCols: Seq[String]): DataFrame =
    df.filter(check.violation)
      .select(keyCols.map(col): _*)
      .withColumn("check_name", lit(check.name))

  /** Violation rows for many checks in one pass: a single scan emitting
    * (keys..., array of violated check names), exploded. Avoids N scans when
    * evidence is wanted for all checks.
    */
  def allViolations(df: DataFrame, checks: Seq[Check], keyCols: Seq[String]): DataFrame =
    violationsFromTags(df,
      checks.map(c => when(c.violation, lit(c.name))), keyCols)

  /** The shared evidence shape behind [[allViolations]] and the fused
    * whole-engine evidence pass: raw tag columns (each `when(cond,
    * lit(name))`) compacted into one array per row and exploded to
    * (keys..., check_name), rows without a violation dropped. Tags may
    * reference join-derived columns, so this takes Columns, not [[Check]]s.
    *
    * The array is built once per row: an inner `explode` lets the optimizer
    * infer a `size(array) > 0` filter below the projection, which evaluates
    * every tag (a `pcm_snr` decode among them) twice. `explode_outer` gives
    * an empty array one NULL row instead, and the compacted array has no
    * NULL element, so dropping NULL names drops exactly the clean rows.
    */
  def violationsFromTags(df: DataFrame, tags: Seq[Column],
                         keyCols: Seq[String]): DataFrame =
    df.select(keyCols.map(col) :+ explode_outer(array_compact(array(tags: _*))).as("check_name"): _*)
      .filter(col("check_name").isNotNull)
}

/** The default audio-table rule set — the semantic transfer of the
  * reference's STG/DDS predicate checks onto the clips schema
  * (SURVEY.md §7.1 mapping table).
  */
object AudioChecks {
  import Severity._
  import RuleGroup._

  val ValidSampleRates: Seq[Int] = Seq(8000, 16000, 22050, 24000, 44100, 48000)
  val DurMsRange: (Int, Int) = (1, 12 * 3600 * 1000) // up to 12h

  /** Engine-enforced declared constraints, like the reference's NOT VALID
    * CHECKs (`sql/initdb/dds_tables.sql:138-152`).
    */
  def defaults: Seq[Check] = Seq(
    Check("part_id_not_null", MissingValues, Error,
      col("part_id").isNull,
      "partition key must be present — a null key is exempt from the " +
        "key-based checks (uniqueness/reconciliation/row-invariant joins), " +
        "so this dedicated rule is what flags it"),
    Check("clip_id_not_null", MissingValues, Error,
      col("clip_id").isNull, "clip_id must be present"),
    Check("bytes_not_null", MissingValues, Error,
      col("bytes").isNull, "payload bytes must be present"),
    Check("transcript_not_null", MissingValues, Warning,
      col("transcript").isNull, "transcript should be present"),
    Check("sr_hz_domain", OutOfRange, Error,
      col("sr_hz").isNull || !col("sr_hz").isin(ValidSampleRates: _*),
      "sample rate must be present and in the allowed set (match_status_valid " +
        "analogue; null = the corrupt_id cast-failure path surfacing here)"),
    Check("dur_ms_range", OutOfRange, Error,
      col("dur_ms").isNull || col("dur_ms") < DurMsRange._1 || col("dur_ms") > DurMsRange._2,
      "duration must lie in [1ms, 12h] (matchday range analogue)"),
    Check("clip_id_format", SchemaMismatch, Warning,
      col("clip_id").isNotNull && !col("clip_id").rlike("^clip_[0-9]{12}$"),
      "clip_id must match its declared format (regex check, specs.py:87 analogue)"),
    Check("bytes_length_consistent", SqlConstraint, Error,
      col("bytes").isNotNull && col("sr_hz") > 0 && col("dur_ms").between(DurMsRange._1, DurMsRange._2) &&
        length(col("bytes")) =!=
          floor(col("sr_hz").cast("long") * col("dur_ms") / 1000.0).cast("long") * 2L,
      "PCM16 byte length must equal sr_hz*dur_ms/1000*2 " +
        "(standings_points_consistency cross-column arithmetic analogue)"))
}
