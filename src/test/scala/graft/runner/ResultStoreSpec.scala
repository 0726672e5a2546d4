package graft.runner

import graft.synth.Synth

/** The result store's tables and report sinks over one modular run. */
class ResultStoreSpec extends graft.SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-results").toString

  test("ResultStore persists validation_run / check_result / audit rows") {
    val dir = tmp() + "/results"
    val store = new ResultStore(spark, dir)
    val ref = Synth.clipsRef(spark, 2, 100, maxAudioMs = 300)
    val report = new ValidationSession(spark)
      .run(ref.toDF(), Synth.dimCodec(spark).toDF(), Some(ref.toDF()))
    store.audit("run1", "all", "STARTED", "clips", 200L, "", 1000L)
    store.writeReport("run1", "all", report, 2000L)
    store.audit("run1", "all", "ENDED", "clips", 200L, "ok", 3000L)

    val runs = store.validationRuns().collect()
    assert(runs.map(_.suite).toSet ===
      Set("predicate", "uniqueness", "referential", "reconciliation", "rowinvariant", "drift"))
    assert(runs.forall(_.status == "SUCCESS"))
    // resource snapshot recorded per run (resource_metrics.py analogue)
    assert(runs.forall(r => r.rss_kb > 0L && r.cpu_ms >= 0L))
    val checks = store.checkResults().collect()
    assert(checks.length === report.outcomes.size)
    assert(checks.forall(_.rows_failed == 0L))
    assert(store.audits().collect().map(_.event).sorted.toSeq === Seq("ENDED", "STARTED"))

    // S5 report sinks: summary CSV with avg/stddev rollup + per-check JSON
    val csvDir = dir + "/summary_csv"
    store.writeSummaryCsv(csvDir)
    val csv = spark.read.option("header", "true").csv(csvDir)
    assert(csv.columns.toSet === Set("suite", "runs", "checks_total", "checks_failed",
      "avg_duration_ms", "std_duration_ms", "first_finished_at", "last_finished_at"))
    assert(csv.count() === 6) // one rollup row per suite
    val jsonPath = dir + "/report.json"
    store.writeReportJson("run1", report, jsonPath)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(jsonPath))
    assert(txt.contains("\"run_id\":\"run1\"") && txt.contains("\"check\":\"pcm_allclose\""))
    // well-formed JSON: Spark can parse it back
    val s2 = spark; import s2.implicits._
    val parsed = spark.read.json(Seq(txt).toDS())
    assert(parsed.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.col("checks"))).count() === report.outcomes.size)

    // HTML report (report.py:709-721 analogue)
    val htmlPath = dir + "/report.html"
    store.writeReportHtml("run1", report, htmlPath)
    val html = java.nio.file.Files.readString(java.nio.file.Paths.get(htmlPath))
    assert(html.contains("Validation run run1") && html.contains("pcm_allclose"))
    assert(html.contains("SUCCESS"))

    // schema evolution: files written before a column existed still read
    // (missing numeric columns surface as 0, not a resolution failure)
    store.validationRuns().toDF()
      .drop("cpu_ms", "rss_kb")
      .limit(1)
      .withColumn("suite", org.apache.spark.sql.functions.lit("legacy"))
      .write.mode("append").parquet(dir + "/validation_run")
    val evolved = store.validationRuns().collect()
    val legacy = evolved.find(_.suite == "legacy").get
    assert(legacy.cpu_ms === 0L && legacy.rss_kb === 0L)
    assert(evolved.length === runs.length + 1)
  }

  test("writeSummaryCsv replaces the directory with the one file Spark's CSV writer would write") {
    import graft.model.CheckOutcome
    val dir = tmp()
    val store = new ResultStore(spark, dir + "/results")
    val odd = Seq("plain", "a,b", "say \"hi\"", "back\\slash \"q\"", "two\nlines")
    store.writeReport("run1", "p0", ValidationReport(odd.zipWithIndex.map { case (s, i) =>
      SuiteReport(s, Seq(CheckOutcome(s"c$i", "OutOfRange", "ERROR", "PASS", 0L)), 10L + i)
    }), 1000L)
    val csvDir = dir + "/summary"
    store.writeSummaryCsv(csvDir)
    store.writeSummaryCsv(csvDir) // replaces, as the overwrite mode did
    assert(new java.io.File(csvDir).list().toSeq === Seq("part-00000.csv"))
    val back = spark.read.option("header", "true").option("multiLine", "true").csv(csvDir)
    assert(back.select("suite").collect().map(_.getString(0)).toSet === odd.toSet)
    // Spark's writer, given the rows read back, writes the same text
    val sparkDir = dir + "/spark_written"
    back.orderBy("suite").coalesce(1).write.option("header", "true").csv(sparkDir)
    def text(d: String) = new java.io.File(d).listFiles().filter(_.getName.endsWith(".csv"))
      .map(f => java.nio.file.Files.readString(f.toPath)).mkString
    assert(text(csvDir) === text(sparkDir))
  }
}
