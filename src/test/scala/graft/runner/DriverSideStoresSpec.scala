package graft.runner

import java.nio.file.Files
import graft.model.CheckOutcome

/** The checkpoint and result stores do their bookkeeping on the driver:
  * no call submits a Spark job, and driver-written result files read back
  * exactly like the Spark-written appends of earlier versions.
  */
class DriverSideStoresSpec extends graft.SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val report = ValidationReport(Seq(
    SuiteReport("predicate", Seq(
      CheckOutcome("a", "OutOfRange", "ERROR", "FAIL", 3L, observedValue = Some("3")),
      CheckOutcome("b", "MissingValues", "WARNING", "PASS", 0L)), 12L),
    SuiteReport("drift", Seq(
      CheckOutcome("dur_ms_ks_drift", "DistributionDrift", "ERROR", "PASS", 0L,
        observedValue = Some("0.010000"), expectedValue = Some("<= 0.1"))), 7L)))

  test("checkpoint and result-store calls submit no Spark job") {
    val store = new CheckpointStore(spark, tmp("ckpt-jobs") + "/cp")
    val results = new ResultStore(spark, tmp("results-jobs"))
    val jobs = jobsDuring {
      val todo = store.pending(Seq("p0", "p1"), "v1")
      store.markProcessing(todo, "v1")
      store.markDoneBulk(todo.map(p => (p, true, "{}")), "v1")
      assert(store.readAll().collect().map(_.status).toSeq == Seq("SUCCESS", "SUCCESS"))
      results.writeReport("r", "p0", report, 1L)
      results.audit("r", "p0", "ENDED", "clips", 30L, "ok", 2L)
    }
    assert(jobs == 0, s"$jobs Spark job(s) submitted by store bookkeeping")
  }

  test("mixed Spark/driver-written results read back the same") {
    val s = spark
    import s.implicits._
    val (oldRep, oldRuns) = ("r0", "p0")
    // the append of earlier versions: one Spark write job per table
    def sparkWritten(dir: String): Unit = {
      val runs = report.suites.map(x => ValidationRunRow(oldRep, oldRuns, x.suite,
        if (x.failed) "FAILED" else "SUCCESS", x.outcomes.size, x.checksFailed,
        x.durationMs, 5L, 11L, 22L))
      val checks = report.suites.flatMap(x => x.outcomes.map(o => CheckResultRow(oldRep, oldRuns,
        x.suite, o.checkName, o.ruleGroup, o.severity, o.status, o.rowsFailed,
        o.observedValue.getOrElse(""), o.expectedValue.getOrElse(""), o.message.getOrElse(""))))
      spark.createDataset(runs).coalesce(1).write.mode("append").parquet(s"$dir/validation_run")
      spark.createDataset(checks).coalesce(1).write.mode("append").parquet(s"$dir/validation_check_result")
      spark.createDataset(Seq(AuditRow(oldRep, oldRuns, "STARTED", "clips", 30L, "", 4L)))
        .coalesce(1).write.mode("append").parquet(s"$dir/audit")
    }
    val mixedDir = tmp("results-mixed")
    sparkWritten(mixedDir)
    val mixed = new ResultStore(spark, mixedDir)
    mixed.writeReport("r1", "p1", report, 9L)
    mixed.audit("r1", "p1", "ENDED", "clips", 30L, "ok", 10L)
    // files Spark wrote and files the driver wrote resolve the same schema
    val footerSchemas = new java.io.File(s"$mixedDir/validation_run").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).schema)
    assert(footerSchemas.length == 2 && footerSchemas.distinct.length == 1,
      footerSchemas.mkString("\n"))
    val driverFile = new java.io.File(s"$mixedDir/audit").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.contains("-c000")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(driverFile.getPath), spark.sparkContext.hadoopConfiguration))
    try assert(footer.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally footer.close()

    val runs = mixed.validationRuns().collect()
    assert(runs.length == 4)
    assert(runs.filter(_.run_id == oldRep).map(_.suite).sorted.toSeq == Seq("drift", "predicate"))
    val fresh = runs.filter(_.run_id == "r1").sortBy(_.suite)
    assert(fresh.map(r => (r.part_id, r.suite, r.status, r.checks_total, r.checks_failed,
      r.duration_ms, r.finished_at)).toSeq ==
      Seq(("p1", "drift", "SUCCESS", 1, 0, 7L, 9L), ("p1", "predicate", "FAILED", 2, 1, 12L, 9L)))
    val checks = mixed.checkResults().collect()
    assert(checks.length == 6)
    assert(checks.filter(_.run_id == "r1").sortBy(_.check_name).toSeq ==
      checks.filter(_.run_id == oldRep).sortBy(_.check_name).map(_.copy(run_id = "r1", part_id = "p1")).toSeq)
    assert(mixed.audits().collect().map(a => (a.run_id, a.event, a.at_ms)).sorted.toSeq ==
      Seq((oldRep, "STARTED", 4L), ("r1", "ENDED", 10L)))

    // the summary rollup over the mixed dir equals the all-Spark one
    val sparkDir = tmp("results-spark")
    sparkWritten(sparkDir)
    spark.createDataset(runs.filter(_.run_id == "r1").toSeq).coalesce(1)
      .write.mode("append").parquet(s"$sparkDir/validation_run")
    def summary(store: ResultStore, out: String) = {
      store.writeSummaryCsv(out)
      spark.read.option("header", "true").csv(out).collect().map(_.toSeq).toSeq
    }
    assert(summary(mixed, tmp("csv") + "/m") ==
      summary(new ResultStore(spark, sparkDir), tmp("csv") + "/s"))
  }
}
