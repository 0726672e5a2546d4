package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._

/** Declared-schema validation — the engine's version of the reference's
  * schema suite, its most numerous check family (V3–V8: six JSON-Schema
  * validators run first in every suite,
  * `/root/reference/src/app2/validators/stg/schema_suite/matches_schema.py:9-66`,
  * `standings_schema.py:9-58`). Semantics carried over:
  *
  *  - OPEN WORLD (`additionalProperties: True`, `matches_schema.py:49,53`):
  *    extra columns are tolerated and reported as INFO, never a failure;
  *  - `required` fields must be present as columns (structural) and non-null
  *    per row (Draft-7 `"type": "integer"` without `"null"` in the union);
  *  - declared TYPE mismatches are row-level: a value that fails
  *    `try_cast(declaredType)` is a violation (the reference's `corrupt_id`
  *    mutation — int id arriving as `"abc"` — surfaces exactly here);
  *  - `minItems` on arrays (`matches_schema.py:17`), `minLength` on strings
  *    compile to `size(col) < n` / `length(col) < n` predicates;
  *  - the inline duplicate-id WARNING (`matches_schema.py:70-79`) is a
  *    null-exempt key-uniqueness check on `uniqueKey`.
  *
  * All row rules compile to Catalyst predicates and run through the
  * single-pass [[CheckCompiler]] pivot — one scan evaluates the whole
  * declared schema regardless of field count, and violation rows come from
  * the same lazy fail_sql twin as every other check.
  */
final case class FieldSpec(
    name: String,
    dataType: DataType,
    required: Boolean = true,
    minLength: Option[Int] = None,
    minItems: Option[Int] = None)

final case class SchemaSpec(
    fields: Seq[FieldSpec],
    /** Dup-warning key (`matches_schema.py:70-79`), null-exempt. */
    uniqueKey: Option[String] = None)

object SchemaCheck {

  /** Structural pass — which declared fields are missing as columns, and
    * which actual columns are undeclared (open world → INFO). Pure metadata,
    * no data scan.
    */
  def structural(df: DataFrame, spec: SchemaSpec): Seq[CheckOutcome] = {
    val actual = df.columns.toSet
    val declared = spec.fields.map(_.name).toSet
    val missing = spec.fields.filter(f => f.required && !actual.contains(f.name))
    val extra = (actual -- declared).toSeq.sorted
    val missingOutcome = CheckOutcome(
      "schema_required_columns", RuleGroup.SchemaMismatch.toString,
      Severity.Error.toString,
      (if (missing.isEmpty) CheckStatus.PASS else CheckStatus.FAIL).toString,
      missing.size.toLong,
      message = if (missing.isEmpty) None
        else Some(s"missing required column(s): ${missing.map(_.name).mkString(",")}"))
    val extraOutcome = CheckOutcome(
      "schema_additional_columns", RuleGroup.SchemaMismatch.toString,
      Severity.Info.toString, CheckStatus.PASS.toString, 0L,
      observedValue = Some(extra.size.toString),
      message = if (extra.isEmpty) None
        else Some(s"undeclared column(s) tolerated (open world): ${extra.mkString(",")}"))
    Seq(missingOutcome, extraOutcome)
  }

  /** Row-level rules for one field, as predicate [[Check]]s. Fields missing
    * from the DataFrame get no row rules (structural already failed them).
    */
  private def fieldChecks(df: DataFrame, f: FieldSpec): Seq[Check] = {
    if (!df.columns.contains(f.name)) return Nil
    val c = col(f.name)
    val actualType = df.schema(f.name).dataType
    val requiredRule =
      if (f.required)
        Seq(Check(s"${f.name}_required", RuleGroup.MissingValues, Severity.Error,
          c.isNull, s"declared required: ${f.name} must be non-null"))
      else Nil
    // type rule only when the physical type differs from the declared one:
    // a value present but not castable to the declared type is a violation
    // (corrupt_id path); an exactly-typed column can never violate it. A
    // physical type with NO cast to the declared one (array vs long, ...)
    // violates for EVERY non-null value — Draft-7 row-level type semantics;
    // silently skipping the rule would let the worst corruption pass clean
    val typeRule =
      if (actualType == f.dataType) Nil
      else if (castable(actualType, f.dataType))
        Seq(Check(s"${f.name}_type", RuleGroup.SchemaMismatch, Severity.Error,
          c.isNotNull && c.try_cast(f.dataType).isNull,
          s"${f.name} must be castable to ${f.dataType.simpleString}"))
      else
        Seq(Check(s"${f.name}_type", RuleGroup.SchemaMismatch, Severity.Error,
          c.isNotNull,
          s"${f.name} declared ${f.dataType.simpleString} but column is " +
            s"uncastable ${actualType.simpleString}"))
    val minLenRule = f.minLength.map(n =>
      Check(s"${f.name}_min_length", RuleGroup.SchemaMismatch, Severity.Error,
        c.isNotNull && length(c) < n,
        s"${f.name} must have length >= $n")).toSeq
    val minItemsRule = f.minItems.map(n =>
      Check(s"${f.name}_min_items", RuleGroup.SchemaMismatch, Severity.Error,
        c.isNotNull && size(c) < n,
        s"${f.name} must have >= $n element(s)")).toSeq
    requiredRule ++ typeRule ++ minLenRule ++ minItemsRule
  }

  private def castable(from: DataType, to: DataType): Boolean =
    org.apache.spark.sql.catalyst.expressions.Cast.canCast(from, to)

  /** Compile the declared schema to its full row-rule set. */
  def compile(df: DataFrame, spec: SchemaSpec): Seq[Check] =
    spec.fields.flatMap(fieldChecks(df, _))

  /** Full schema validation: structural compare + all row rules in ONE scan
    * + the duplicate-key warning (its own key-only aggregate).
    *
    * `configure` is applied to the compiled row rules before evaluation —
    * the modular runner passes `EngineConfig.applyTo` here so check-level
    * enable/severity overrides hit schema rules identically on the modular
    * and fused paths (which fold the same compiled rules into the
    * runner's check catalog).
    */
  def run(df: DataFrame, spec: SchemaSpec,
          configure: Seq[Check] => Seq[Check] = identity): Seq[CheckOutcome] = {
    val rowChecks = configure(compile(df, spec))
    val rowOutcomes =
      if (rowChecks.isEmpty) Nil else CheckCompiler.run(df, rowChecks)
    val dupOutcome = spec.uniqueKey.filter(df.columns.contains).map(k =>
      Uniqueness.check(df.select(k), Seq(k), s"${k}_duplicate_warning",
        severity = Severity.Warning)).toSeq
    structural(df, spec) ++ rowOutcomes ++ dupOutcome
  }
}
