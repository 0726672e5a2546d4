package graft.runner

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import graft.model.CheckOutcome

/** Persisted validation metrics — the reference's result tables rebuilt as
  * append-only parquet (Iceberg in production):
  *  - `validation_run` — one row per suite execution
  *    (`tech.validation_run`, `sql/initdb/tech_tables.sql:43-58`)
  *  - `validation_check_result` — one row per check outcome with
  *    status/rows_failed/observed/expected (`tech_tables.sql:60-81`)
  *  - `audit` — STARTED/ENDED/ERROR event log
  *    (`tech.etl_load_audit`, `tech_tables.sql:9-22`)
  *
  * Rows are tiny (O(checks), never O(data rows)), so each append is one
  * parquet file written on the driver — no Spark job — under a hidden temp
  * name and renamed into the table directory: appends are atomic at the
  * file level. The footer carries Spark's row schema, so readers resolve
  * the same schema as for files Spark wrote itself, and directories that
  * mix both read as one table. Every row carries (run_id, part_id) so
  * downstream reads partition-prune.
  */
final case class ValidationRunRow(
    run_id: String,
    part_id: String,
    suite: String,
    status: String,
    checks_total: Int,
    checks_failed: Int,
    duration_ms: Long,
    finished_at: Long,
    // driver resource snapshot at write time (resource_metrics.py analogue)
    cpu_ms: Long,
    rss_kb: Long)

final case class CheckResultRow(
    run_id: String,
    part_id: String,
    suite: String,
    check_name: String,
    rule_group: String,
    severity: String,
    status: String,
    rows_failed: Long,
    observed_value: String,
    expected_value: String,
    message: String)

final case class AuditRow(
    run_id: String,
    part_id: String,
    event: String,  // STARTED | ENDED | ERROR
    entity: String,
    rows_processed: Long,
    message: String,
    at_ms: Long)

class ResultStore(spark: SparkSession, baseDir: String) {
  import spark.implicits._

  private def append[T <: Product : org.apache.spark.sql.Encoder](
      rows: Seq[T], table: String): Unit =
    if (rows.nonEmpty) {
      val dir = new Path(s"$baseDir/$table")
      val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
      val tmp = new Path(dir, s".$name.tmp")
      val enc = implicitly[org.apache.spark.sql.Encoder[T]] match {
        case e: ExpressionEncoder[T] => e
        case a: AgnosticEncoder[T] => ExpressionEncoder(a)
      }
      val toRow = enc.createSerializer()
      val conf = spark.sessionState.newHadoopConf()
      // nullable like every file Spark writes, so footers merge cleanly
      ParquetWriteSupport.setSchema(org.apache.spark.sql.types.StructType(
        enc.schema.fields.map(_.copy(nullable = true))), conf)
      val sqlConf = spark.sessionState.conf
      Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
        SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
        .foreach(e => conf.set(e.key, sqlConf.getConfString(e.key)))
      val writer = new ResultStore.RowWriterBuilder(tmp).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try rows.foreach(r => writer.write(toRow(r)))
      finally writer.close()
      val fs = dir.getFileSystem(conf)
      if (!fs.rename(tmp, new Path(dir, name))) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"result append: rename into $dir failed")
      }
    }

  def writeReport(runId: String, partId: String, report: ValidationReport,
                  atMs: Long): Unit = {
    val res = ResourceMetrics.snapshot()
    val runRows = report.suites.map(s => ValidationRunRow(
      runId, partId, s.suite,
      if (s.failed) "FAILED" else "SUCCESS",
      s.outcomes.size, s.checksFailed, s.durationMs, atMs,
      res.cpu_ms, res.rss_kb))
    val checkRows = report.suites.flatMap(s => s.outcomes.map(o => CheckResultRow(
      runId, partId, s.suite, o.checkName, o.ruleGroup, o.severity, o.status,
      o.rowsFailed, o.observedValue.getOrElse(""), o.expectedValue.getOrElse(""),
      o.message.getOrElse(""))))
    append(runRows, "validation_run")
    append(checkRows, "validation_check_result")
  }

  def audit(runId: String, partId: String, event: String, entity: String,
            rowsProcessed: Long, message: String, atMs: Long): Unit =
    append(Seq(AuditRow(runId, partId, event, entity, rowsProcessed, message, atMs)),
      "audit")

  /** Per-suite summary rollup — the reference's validation_summary CSV
    * (`scripts/run_manual_experiments.py:353-415`): runs, checks totals,
    * AVG and STDDEV_POP of duration per suite, written as a single
    * header-bearing CSV file (S5 report sink).
    */
  def writeSummaryCsv(path: String): Unit = {
    import org.apache.spark.sql.functions._
    validationRuns().groupBy(col("suite")).agg(
      count(lit(1)).as("runs"),
      sum(col("checks_total")).as("checks_total"),
      sum(col("checks_failed")).as("checks_failed"),
      round(avg(col("duration_ms")), 3).as("avg_duration_ms"),
      round(coalesce(stddev_pop(col("duration_ms")), lit(0.0)), 3).as("std_duration_ms"),
      min(col("finished_at")).as("first_finished_at"),
      max(col("finished_at")).as("last_finished_at"))
      .orderBy(col("suite"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Per-check JSON dump for one report — the reference's per-suite JSON
    * artifact (`src/app2/etl_validation/sql_runner.py:141-146`).
    */
  def writeReportJson(runId: String, report: ValidationReport, path: String): Unit = {
    def q(s: String): String = graft.model.JsonUtil.quote(s)
    val checks = report.suites.flatMap(s => s.outcomes.map(o =>
      s"""{"suite":${q(s.suite)},"check":${q(o.checkName)},"rule_group":${q(o.ruleGroup)},""" +
      s""""severity":${q(o.severity)},"status":${q(o.status)},"rows_failed":${o.rowsFailed},""" +
      s""""observed":${o.observedValue.map(q).getOrElse("null")},""" +
      s""""expected":${o.expectedValue.map(q).getOrElse("null")}}"""))
    val json = s"""{"run_id":${q(runId)},"status":${q(report.status)},""" +
      s""""checks":[${checks.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    ()
  }

  /** Static HTML report — the reference's per-run HTML artifact
    * (`src/app2/experiments/report.py:709-721`), reduced to what a human
    * actually reads: run status, per-suite rollup, and every non-PASS check
    * with its counts. Self-contained file, no external assets.
    *
    * `snapshotDiff` renders the golden-snapshot diff table
    * (`report.py:538-706`: added/removed/changed rows keyed by business
    * key) — pass the output of [[graft.checks.Reconcile.diff]]. Only
    * `diffLimit` rows are collected to the driver (the reference's
    * `snapshot_limit`/`sample_limit` cap); the cap is shown when hit.
    */
  def writeReportHtml(runId: String, report: ValidationReport, path: String,
                      snapshotDiff: Option[org.apache.spark.sql.DataFrame] = None,
                      diffLimit: Int = 100): Unit = {
    import Html.{badge, esc}
    val suiteRows = report.suites.map(s =>
      s"""<tr><td>${esc(s.suite)}</td><td>${badge(if (s.failed) "FAILED" else "SUCCESS")}</td>""" +
      s"""<td>${s.outcomes.size}</td><td>${s.checksFailed}</td><td>${s.durationMs} ms</td></tr>""")
    val checkRows = report.suites.flatMap(s => s.outcomes.map(o =>
      s"""<tr><td>${esc(s.suite)}</td><td>${esc(o.checkName)}</td><td>${esc(o.ruleGroup)}</td>""" +
      s"""<td>${esc(o.severity)}</td><td>${badge(o.status)}</td><td>${o.rowsFailed}</td>""" +
      s"""<td>${esc(o.observedValue.getOrElse(""))}</td><td>${esc(o.message.getOrElse(""))}</td></tr>"""))
    // golden-snapshot diff section (report.py:538-706): bounded collect of
    // the added/removed/changed rows, rendered keyed-column-first
    val diffSection = snapshotDiff.map { d =>
      val cols = d.columns.toSeq
      val collected = d.limit(diffLimit + 1).collect()
      val capped = collected.length > diffLimit
      val shown = collected.take(diffLimit)
      val header = cols.map(c => s"<th>${esc(c)}</th>").mkString
      val rows = shown.map { r =>
        val kind = Option(r.getAs[Any]("diff_kind")).map(_.toString).getOrElse("")
        val color = kind match {
          case "added"   => "#e8f5e9"
          case "removed" => "#ffebee"
          case _         => "#fff8e1" // changed
        }
        cols.map(c => s"<td>${esc(Option(r.getAs[Any](c)).map(_.toString).getOrElse("∅"))}</td>")
          .mkString(s"""<tr style="background:$color">""", "", "</tr>")
      }.mkString("\n")
      s"""<h2>Snapshot diff (ref ↔ cand)</h2>
         |<p>${shown.length} row(s)${if (capped) s" — truncated at $diffLimit" else ""}</p>
         |<table><tr>$header</tr>
         |$rows</table>""".stripMargin
    }.getOrElse("")
    Html.write(path, s"validation $runId",
      s"""<h1>Validation run ${esc(runId)} — ${badge(report.status)}</h1>
         |<h2>Suites</h2>
         |<table><tr><th>suite</th><th>status</th><th>checks</th><th>failed</th><th>duration</th></tr>
         |${suiteRows.mkString("\n")}</table>
         |<h2>Checks</h2>
         |<table><tr><th>suite</th><th>check</th><th>rule group</th><th>severity</th><th>status</th>
         |<th>rows failed</th><th>observed</th><th>message</th></tr>
         |${checkRows.mkString("\n")}</table>
         |$diffSection""".stripMargin)
  }

  def validationRuns(): Dataset[ValidationRunRow] = read[ValidationRunRow]("validation_run")
  def checkResults(): Dataset[CheckResultRow] = read[CheckResultRow]("validation_check_result")
  def audits(): Dataset[AuditRow] = read[AuditRow]("audit")

  /** Append-only tables evolve: files written before a column existed must
    * still read (mergeSchema unifies footers; absent/null numeric columns
    * read as 0) — otherwise adding a metric breaks every existing results
    * dir.
    */
  private def read[T <: Product : org.apache.spark.sql.Encoder](table: String): Dataset[T] = {
    val hp = new org.apache.hadoop.fs.Path(s"$baseDir/$table")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) spark.emptyDataset[T]
    else {
      val enc = implicitly[org.apache.spark.sql.Encoder[T]].schema
      val df = spark.read.option("mergeSchema", "true").parquet(hp.toString)
      val withAll = enc.fields.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType))
      }
      val numeric = enc.fields.filter(f => f.dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType]).map(_.name)
      withAll.na.fill(0, numeric).as[T]
    }
  }
}

object ResultStore {
  /** parquet-hadoop writer over Spark's own row write support, which puts
    * the `org.apache.spark.sql.parquet.row.metadata` schema in the footer.
    */
  private final class RowWriterBuilder(p: Path)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](p) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration) =
      new ParquetWriteSupport()
  }
}
