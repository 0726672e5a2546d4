package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model._

/** Duplicate-key detection — the reference's `{entity}_uniqueness` checks
  * (`src/app2/validators/stg/uniqueness_suite`, GROUP BY id HAVING
  * COUNT(*)>1, `specs.py:110-143`).
  *
  * Two physical strategies:
  *  - `duplicateKeys`: plain groupBy-count. Spark already does map-side
  *    partial aggregation, which is optimal when keys are near-unique
  *    (clip_id). This is the default.
  *  - `duplicateKeysSalted`: explicit two-phase salted aggregate for HOT keys
  *    (e.g. counting by codec/sr_hz where 70% of rows share one value —
  *    north-rule skew). Phase 1 aggregates on (key, salt) so no single
  *    reducer receives the hot key's full volume; phase 2 re-aggregates the
  *    tiny per-salt partials.
  *
  * Null keys are exempt, matching `areas_uniqueness.py:32-39`.
  */
object Uniqueness {

  /** Keys appearing more than once, with their counts. */
  def duplicateKeys(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val nonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    df.filter(nonNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
  }

  /** Salted two-phase variant for skewed keys. `saltBuckets` bounds the
    * per-reducer share of a hot key to 1/saltBuckets of its rows.
    */
  def duplicateKeysSalted(df: DataFrame, keyCols: Seq[String],
                          saltBuckets: Int = 64): DataFrame = {
    val nonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    // salt = (input partition id + key crc) mod buckets: the partition-id
    // term spreads one hot key's rows across reducers; the key-crc term
    // decorrelates which reducers adjacent keys land on
    val salted = df.filter(nonNull)
      .withColumn("__salt", pmod(
        spark_partition_id().cast("long") +
          crc32(concat_ws("", keyCols.map(col): _*)),
        lit(saltBuckets)))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__pc"))
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__pc")).as("dup_count"))
      .filter(col("dup_count") > 1)
  }

  /** Verdict form: one CheckOutcome. rowsFailed = number of duplicated keys
    * (matches the reference's dup-key counting, `specs.py:117-127`).
    */
  def check(df: DataFrame, keyCols: Seq[String], name: String,
            severity: Severity.Severity = Severity.Error,
            salted: Boolean = false): CheckOutcome = {
    val dups = if (salted) duplicateKeysSalted(df, keyCols) else duplicateKeys(df, keyCols)
    outcome(name, keyCols, severity, dups.count())
  }

  /** The verdict for `n` duplicated keys, however they were counted. */
  def outcome(name: String, keyCols: Seq[String], severity: Severity.Severity,
              n: Long): CheckOutcome =
    CheckOutcome(name, RuleGroup.DuplicateRecords.toString, severity.toString,
      CheckOutcome.status(severity, n).toString, n,
      message = if (n > 0) Some(s"$n duplicated key(s) on (${keyCols.mkString(",")})") else None)
}
