package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checks._
import graft.model._

/** Suite orchestration — the engine's analogue of the reference's suite
  * runners (`src/app2/validators/runner.py:109-228` severity policy and
  * fail-fast; `experiments/run.py:250-265` fixed suite order
  * ingestion→schema→completeness→uniqueness→consistency then
  * referential→reconciliation→rules).
  *
  * Collect-all is the Spark-natural default; `failFast = true` reproduces
  * the reference's raise-on-error behaviour (remaining suites SKIP,
  * `run.py:627-636`).
  */
final case class SuiteReport(
    suite: String,
    outcomes: Seq[CheckOutcome],
    durationMs: Long) {
  def failed: Boolean = outcomes.exists(o =>
    o.status == CheckStatus.FAIL.toString || o.status == CheckStatus.ERROR.toString)
  def checksFailed: Int = outcomes.count(o =>
    o.status == CheckStatus.FAIL.toString || o.status == CheckStatus.ERROR.toString)
}

final case class ValidationReport(suites: Seq[SuiteReport]) {
  def outcomes: Seq[CheckOutcome] = suites.flatMap(_.outcomes)
  def status: String =
    if (outcomes.exists(_.status == "FAIL") || outcomes.exists(_.status == "ERROR")) "FAILED"
    else "SUCCESS"
  def rowsFailedTotal: Long = outcomes.map(_.rowsFailed).sum
}

/** Configuration of one validation session over the clips table. */
final case class ValidationConfig(
    ruleVersion: String = "v1",
    failFast: Boolean = false,
    minSnrDb: Double = 30.0,
    predicateChecks: Seq[Check] = AudioChecks.defaults,
    driftColumn: String = "dur_ms",
    driftLo: Double = 0.0,
    driftHi: Double = 31000.0,
    driftBins: Int = 64,
    ksThreshold: Double = 0.1,
    /** Collect-all mode only: submit all suites' Spark jobs concurrently
      * from the driver (Spark schedules them across the same executors).
      * Removes the driver-side serialization of N independent actions —
      * at cluster scale the per-job latency floor otherwise dominates
      * small-partition validation. Ignored when failFast=true (fail-fast
      * is inherently sequential).
      */
    parallelSuites: Boolean = false,
    /** Config-driven registry (reference YAML configs → [[EngineConfig]]):
      * suite-level enable/disable applies to the modular `run` path; check
      * enable + severity overrides apply to the predicate catalog on both
      * paths (runFused always evaluates every enabled suite — it is one
      * aggregate).
      */
    engineConfig: EngineConfig = EngineConfig.empty,
    /** Declared schema, validated FIRST when present — the reference runs
      * its schema suite before all others (`experiments/run.py:250-265`).
      * Honored by ALL paths: the modular `run` gets a dedicated schema
      * suite; the fused paths fold the compiled row rules into the
      * mega-aggregate and report structural findings alongside (the
      * dup-key warning is group-level — in fused plans rely on the
      * clip_id uniqueness check).
      */
    schemaSpec: Option[graft.checks.SchemaSpec] = None)

class ValidationSession(spark: SparkSession, cfg: ValidationConfig = ValidationConfig()) {

  /** Runtime severity downgrade for checks whose severity is HARD-WIRED in
    * code (codec FK, reconciliation, row invariants, uniqueness, drift,
    * schema structural findings) — the reference's downgrade policy
    * (`validators/runner.py:175-176`) applies to ANY named check, and the
    * predicate catalog already honors it via [[EngineConfig.applyTo]]; this
    * transform extends the same registry entry to every other outcome.
    * ERROR/SKIP outcomes pass through: a runtime failure or a fail-fast
    * skip is not a violation count to re-grade.
    */
  private def overrideSeverity(o: CheckOutcome): CheckOutcome =
    cfg.engineConfig.severityOverrideFor(o.checkName) match {
      case Some(sev) if o.status != CheckStatus.ERROR.toString &&
                        o.status != CheckStatus.SKIP.toString =>
        o.copy(severity = sev.toString,
          status = CheckOutcome.status(sev, o.rowsFailed).toString)
      case _ => o
    }

  private def timed(suite: String)(body: => Seq[CheckOutcome]): SuiteReport = {
    val t0 = System.nanoTime()
    val out = body.map(overrideSeverity)
    SuiteReport(suite, out, (System.nanoTime() - t0) / 1000000L)
  }

  /** [[timed]] with per-suite error containment for the modular collect-all
    * path: a runtime failure in one suite (transient storage error, ...)
    * records ERROR outcomes for that suite's checks — the reference runner's
    * behaviour (`validators/runner.py:109-228` audits ERROR and continues) —
    * instead of discarding every other suite's results with it.
    */
  private def timedGuard(suite: String, names: Seq[String])
                        (body: => Seq[CheckOutcome]): SuiteReport = {
    val t0 = System.nanoTime()
    val out =
      try body.map(overrideSeverity)
      catch {
        case scala.util.control.NonFatal(e) =>
          names.map(n => CheckOutcome(n, "-", "-", CheckStatus.ERROR.toString, 0L,
            message = Some(s"suite error: ${e.getClass.getSimpleName}: ${e.getMessage}")))
      }
    SuiteReport(suite, out, (System.nanoTime() - t0) / 1000000L)
  }

  private def skip(suite: String, names: Seq[String]): SuiteReport =
    SuiteReport(suite, names.map(n => CheckOutcome(n, "-", "-",
      CheckStatus.SKIP.toString, 0L, message = Some("skipped: fail-fast"))), 0L)

  /** Run every suite over one table (optionally vs a reference table for
    * reconciliation / row invariants / drift). Narrow projections keep the
    * bytes column out of every suite except rowinvariant.
    */
  def run(clips: DataFrame, dimCodec: DataFrame,
          clipsRef: Option[DataFrame] = None): ValidationReport = {
    val noBytes = clips.drop("bytes")
    val preds = cfg.engineConfig.applyTo(cfg.predicateChecks)

    val allSuites: Seq[(String, Seq[String], () => Seq[CheckOutcome])] =
      cfg.schemaSpec.toSeq.map(spec =>
        ("schema", spec.fields.map(_.name),
          // config registry applies to the compiled schema row rules here
          // exactly as effectiveChecks applies it on the fused paths
          () => SchemaCheck.run(clips, spec, cfg.engineConfig.applyTo))) ++
      // every check can be config-disabled BY NAME (the reference's
      // validation overrides) — an all-disabled suite is dropped, and
      // multi-check suite bodies filter their outcomes to the enabled set
      (if (preds.isEmpty) Nil else Seq(
        ("predicate", preds.map(_.name),
          () => CheckCompiler.run(clips, preds)))) ++
      (if (on("clip_id_uniqueness")) Seq(
        ("uniqueness", Seq("clip_id_uniqueness"),
          () => Seq(Uniqueness.check(noBytes, Seq("clip_id"), "clip_id_uniqueness")))) else Nil) ++
      (if (on("codec_fk")) Seq(
        ("referential", Seq("codec_fk"),
          () => Seq(Referential.check(noBytes, dimCodec, Seq("codec"), Seq("codec"), "codec_fk")))) else Nil) ++
      clipsRef.toSeq.flatMap { ref =>
        val recNames = Seq("clips_completeness", "clips_exclusivity").filter(on)
        val rowNames = Seq("pcm_allclose", "transcript_equality").filter(on)
        val driftNames = Seq(driftKsName, driftPsiName).filter(on)
        (if (recNames.nonEmpty) Seq(
          ("reconciliation", recNames,
            () => Reconcile.check(ref.drop("bytes"), noBytes, Seq("part_id", "clip_id"), "clips")
              .outcomes.filter(o => recNames.contains(o.checkName)))) else Nil) ++
        (if (rowNames.nonEmpty) Seq(
          ("rowinvariant", rowNames,
            // pass the toggles down: a disabled pcm_allclose must skip the
            // decode+SNR pass entirely, not compute-and-discard it
            () => RowInvariant.check(ref, clips, cfg.minSnrDb,
              computePcm = rowNames.contains("pcm_allclose"),
              computeTranscript = rowNames.contains("transcript_equality")))) else Nil) ++
        (if (driftNames.nonEmpty) Seq(
          ("drift", driftNames,
            () => Drift.check(ref.drop("bytes"), noBytes, cfg.driftColumn,
              cfg.driftLo, cfg.driftHi, cfg.driftBins, cfg.ksThreshold)
              .filter(o => driftNames.contains(o.checkName)))) else Nil)
      }
    // config-driven suite enable/disable (validators/configs/*.yml analogue)
    val suites = allSuites.filter { case (name, _, _) =>
      cfg.engineConfig.suiteEnabled(name) }

    if (cfg.parallelSuites && !cfg.failFast) {
      // submit every suite's jobs concurrently — Spark's scheduler shares
      // the executors; the driver no longer serializes independent actions
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val futures = suites.map { case (name, names, body) =>
        Future(timedGuard(name, names)(body())) }
      ValidationReport(Await.result(Future.sequence(futures), Duration.Inf))
    } else {
      var failed = false
      val reports = scala.collection.mutable.ArrayBuffer[SuiteReport]()
      suites.foreach { case (name, skipNames, body) =>
        if (cfg.failFast && failed) reports += skip(name, skipNames)
        else {
          val r = timedGuard(name, skipNames)(body())
          reports += r
          if (r.failed) failed = true
        }
      }
      ValidationReport(reports.toSeq)
    }
  }

  // ==== shared fused-plan building blocks ===================================

  /** The row-rule catalog every fused plan evaluates: configured predicate
    * checks PLUS the declared schema's compiled row rules (when schemaSpec
    * is set), both filtered/overridden by the config registry — keeps the
    * modular and fused paths in three-way agreement on schema semantics.
    * (The schema dup-key WARNING is a group property; in fused plans it is
    * covered by the clip_id uniqueness check when uniqueKey == clip_id.)
    */
  private def effectiveChecks(df: DataFrame): Seq[Check] = {
    val all = cfg.engineConfig.applyTo(cfg.predicateChecks ++
      cfg.schemaSpec.toSeq.flatMap(SchemaCheck.compile(df, _)))
    // check names are GLOBAL identifiers (config registry, result tables,
    // and the fused aggregate's named columns all key on them) — duplicate
    // names would silently alias two counts onto one fused field
    val dups = all.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate check name(s): ${dups.mkString(",")} — a predicate check " +
        "and a schema-compiled rule share a name; rename one")
    all
  }

  /** Structural declared-schema findings (missing/extra columns) — pure
    * metadata, evaluated driver-side in every fused verdict path.
    */
  private def structuralOutcomes(df: DataFrame): Seq[CheckOutcome] =
    cfg.schemaSpec.toSeq.flatMap(SchemaCheck.structural(df, _))

  /** Check-level config enablement for the BUILT-IN (non-predicate) checks
    * — codec FK, reconciliation directions, row invariants, uniqueness,
    * drift. The reference's validation overrides can disable ANY check by
    * name (`experiments/run.py` `*_validation_overrides`); the predicate
    * catalog already honors this via [[effectiveChecks]], and these
    * helpers extend the same registry to the hard-wired fused columns so
    * the modular and fused paths agree under any config.
    */
  private def on(name: String): Boolean = cfg.engineConfig.checkEnabled(name)
  private def driftKsName = s"${cfg.driftColumn}_ks_drift"
  private def driftPsiName = s"${cfg.driftColumn}_psi_drift"
  private def driftOn: Boolean = on(driftKsName) || on(driftPsiName)

  private val fusedKeys = Seq("part_id", "clip_id")
  private def candPresent = col("__c").isNotNull
  private def refPresent = col("__r").isNotNull
  private def bothPresent = refPresent && candPresent
  /** Reconciliation is NULL-EXEMPT like the reference's key checks
    * (`fact_match_fk.py:23`, `areas_uniqueness.py:36`) and the modular
    * [[Reconcile.check]]: a row whose join key is null can never be
    * matched, and counting it as missing/extra would misclassify what is
    * really a missing-value problem — the part_id/clip_id not-null
    * predicate checks flag those rows instead.
    */
  private def keysNonNull = fusedKeys.map(col(_).isNotNull).reduce(_ && _)

  /** The dimension's codecs, deduplicated on the driver: the dimension is
    * small, and a distinct aggregate would cost a shuffle job per call.
    */
  private def codecSetOf(dimCodec: DataFrame): Seq[String] =
    dimCodec.select(col("codec")).collect().map(_.getString(0)).toSeq.distinct

  /** The dimension collapsed to a broadcast-literal IN set. */
  private def fkViolation(codecSet: Seq[String]) =
    col("codec").isNotNull && !col("codec").isin(codecSet: _*)

  /** Identical-bytes short-circuit skips decode; null bytes fall through to
    * pcm_snr which returns -Inf (always a violation) — RowInvariant.compare
    * semantics.
    */
  private def pcmOk =
    (col("ref_bytes").isNotNull && (col("ref_bytes") <=> col("bytes"))) ||
      RowInvariant.snrColumn(col("ref_bytes"), col("bytes")) >= cfg.minSnrDb

  /** Full-outer ref↔cand join on (part_id, clip_id) — shuffle-free and
    * sort-free when both tables are bucketed/storage-partitioned on the
    * key. The candidate keeps ORIGINAL column names so predicate checks
    * resolve; reference columns are prefixed.
    */
  private def fusedJoin(clips: DataFrame, clipsRef: DataFrame): DataFrame = {
    val candCols = clips.columns.filterNot(fusedKeys.contains).map(col)
    val c = clips.select((fusedKeys.map(col) ++ candCols): _*)
      .withColumn("__c", lit(true))
    val r = clipsRef.select(col("part_id"), col("clip_id"),
      col("bytes").as("ref_bytes"), col("transcript").as("ref_transcript"))
      .withColumn("__r", lit(true))
    r.join(c, fusedKeys, "full_outer")
  }

  private def emptyHistograms: (Drift.Histogram, Drift.Histogram) = {
    def h = Drift.Histogram(cfg.driftLo, cfg.driftHi, new Array[Long](cfg.driftBins))
    (h, h)
  }

  /** Name-based accessor over an aggregate result row: missing-in-schema is
    * a bug (throws), null cell (empty input) reads 0. All fused-row reads go
    * through names — positional offset arithmetic breaks silently when the
    * aggregate list changes shape.
    */
  private def fieldGetter(row: org.apache.spark.sql.Row): String => Long = { n =>
    val i = row.fieldIndex(n)
    if (row.isNullAt(i)) 0L else row.getLong(i)
  }

  /** The mega-aggregate column list: candidate row count, every predicate
    * count, codec FK, reconciliation both ways, PCM + transcript
    * invariants — all NAMED; readers access by field name.
    */
  private def fusedCountAggs(preds: Seq[Check],
                             codecSet: Seq[String]): Seq[org.apache.spark.sql.Column] =
    Seq(sum(when(candPresent, 1L).otherwise(0L)).as("__rows")) ++
    preds.map(cc =>
      sum(when(candPresent && cc.violation, 1L).otherwise(0L)).as(cc.name)) ++
    (if (on("codec_fk")) Seq(
      sum(when(candPresent && fkViolation(codecSet), 1L).otherwise(0L)).as("__fk")) else Nil) ++
    (if (on("clips_completeness")) Seq(
      sum(when(col("__c").isNull && keysNonNull, 1L).otherwise(0L)).as("__missing")) else Nil) ++
    (if (on("clips_exclusivity")) Seq(
      sum(when(col("__r").isNull && keysNonNull, 1L).otherwise(0L)).as("__extra")) else Nil) ++
    (if (on("pcm_allclose")) Seq(
      sum(when(bothPresent && !pcmOk, 1L).otherwise(0L)).as("__pcm_bad")) else Nil) ++
    (if (on("transcript_equality")) Seq(
      sum(when(bothPresent && !(col("ref_transcript") <=> col("transcript")), 1L)
        .otherwise(0L)).as("__tr_bad")) else Nil)

  /** Outcomes for the count columns produced by [[fusedCountAggs]]
    * (everything except uniqueness and drift, which have their own plans).
    */
  private def fusedCountOutcomes(preds: Seq[Check],
                                 get: String => Long): Seq[CheckOutcome] = {
    def outcome(name: String, group: RuleGroup.RuleGroup,
                sev: Severity.Severity, n: Long,
                expected: Option[String] = None): CheckOutcome =
      CheckOutcome(name, group.toString, sev.toString,
        CheckOutcome.status(sev, n).toString, n, expectedValue = expected)
    preds.map { cc =>
      outcome(cc.name, cc.ruleGroup, cc.severity, get(cc.name))
    } ++
    (if (on("codec_fk")) Seq(
      outcome("codec_fk", RuleGroup.ReferentialIntegrity, Severity.Error, get("__fk"))) else Nil) ++
    (if (on("clips_completeness")) Seq(
      outcome("clips_completeness", RuleGroup.Reconciliation, Severity.Error, get("__missing"))) else Nil) ++
    (if (on("clips_exclusivity")) Seq(
      outcome("clips_exclusivity", RuleGroup.Reconciliation, Severity.Warning, get("__extra"))) else Nil) ++
    (if (on("pcm_allclose")) Seq(
      outcome("pcm_allclose", RuleGroup.RowInvariant, Severity.Error, get("__pcm_bad"),
        expected = Some(s"SNR >= ${cfg.minSnrDb} dB"))) else Nil) ++
    (if (on("transcript_equality")) Seq(
      outcome("transcript_equality", RuleGroup.RowInvariant, Severity.Error, get("__tr_bad"))) else Nil)
  }

  private def driftOutcomes(hists: (Drift.Histogram, Drift.Histogram)): Seq[CheckOutcome] = {
    val (refHist, candHist) = hists
    val ksV = Drift.ks(refHist, candHist)
    val psiV = Drift.psi(refHist, candHist)
    val ks =
      if (on(driftKsName)) Seq(
        CheckOutcome(driftKsName, RuleGroup.DistributionDrift.toString,
          Severity.Error.toString,
          (if (ksV > cfg.ksThreshold) CheckStatus.FAIL else CheckStatus.PASS).toString,
          if (ksV > cfg.ksThreshold) 1L else 0L,
          observedValue = Some(String.format(java.util.Locale.ROOT, "%.6f",
            Double.box(ksV))), expectedValue = Some(s"<= ${cfg.ksThreshold}")))
      else Nil
    val psi =
      if (on(driftPsiName)) Seq(
        CheckOutcome(driftPsiName, RuleGroup.DistributionDrift.toString,
          Severity.Warning.toString,
          (if (psiV > 0.2) CheckStatus.WARN else CheckStatus.PASS).toString,
          if (psiV > 0.2) 1L else 0L,
          observedValue = Some(String.format(java.util.Locale.ROOT, "%.6f",
            Double.box(psiV))), expectedValue = Some("<= 0.2")))
      else Nil
    (ks ++ psi).map(overrideSeverity)
  }

  // ==== fused entry points ===================================================

  /** FUSED whole-engine pass — the C16 "one statement evaluates every check"
    * pivot (`specs.py:421-426`) extended from predicate checks to the entire
    * suite catalog. The modular `run` issues ~12 Spark jobs (6 suites × 1-2
    * actions), each re-scanning its inputs. This plan reads each table's
    * heavy `bytes` column EXACTLY ONCE, in THREE concurrent jobs:
    *
    *  A. ONE full-outer join ref↔cand ([[fusedJoin]]) whose single
    *     aggregate ([[fusedCountAggs]]) evaluates every check except
    *     uniqueness and drift;
    *  B. the clip_id uniqueness aggregate (key-only columns, tiny shuffle);
    *  C. both drift histograms ([[Drift.histogramPairs]]: the drift
    *     column only, no join).
    *
    * Reconciliation counts are row-level here (key-level in the modular
    * path) — identical verdicts, and identical counts when clip_id is
    * unique (which check B enforces). Drift histograms come from each
    * table, as in the modular Drift.check.
    */
  def runFused(clips: DataFrame, dimCodec: DataFrame,
               clipsRef: DataFrame): ValidationReport = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    val codecSet = codecSetOf(dimCodec)
    val preds = effectiveChecks(clips)

    // A: the mega-join — every count check in one aggregate
    val fA = Future(timed("fused_join") {
      val aggs = fusedCountAggs(preds, codecSet)
      val row = fusedJoin(clips, clipsRef).agg(aggs.head, aggs.tail: _*).head()
      structuralOutcomes(clips) ++ fusedCountOutcomes(preds, fieldGetter(row))
    })

    // B: uniqueness (key-only aggregate; config-disableable like any check)
    val fB =
      if (on("clip_id_uniqueness")) Some(Future(timed("uniqueness") {
        Seq(Uniqueness.check(clips.select("part_id", "clip_id"),
          Seq("clip_id"), "clip_id_uniqueness"))
      }))
      else None

    // C: drift histograms (driftOutcomes applies the severity overrides)
    val fC =
      if (driftOn) Some(Future {
        val t0 = System.nanoTime()
        val hists = Drift.histogramPairs(clipsRef, clips, Nil, cfg.driftColumn,
          cfg.driftLo, cfg.driftHi, cfg.driftBins).getOrElse(Nil, emptyHistograms)
        SuiteReport("drift", driftOutcomes(hists), (System.nanoTime() - t0) / 1000000L)
      })
      else None

    try ValidationReport(Await.result(fA, Duration.Inf) +:
      (fB.toSeq ++ fC.toSeq).map(Await.result(_, Duration.Inf)))
    finally settle(Seq(fA) ++ fB ++ fC)
  }

  /** Waits for every future, failed or not: no job a verdict submitted may
    * outlive the verdict, even when a sibling job failed first.
    */
  private def settle(fs: Seq[scala.concurrent.Future[_]]): Unit =
    fs.foreach(f => scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf))

  /** Fused EVIDENCE pass — violation ROWS for every check in ONE scan of
    * the ref↔cand join (the fail_sql twin of [[runFused]]): each surviving
    * row carries the array of check names it violates, exploded to
    * (part_id, clip_id, check_name). At 10^12 rows this replaces one
    * fail_sql job per failed check with a single pass; output volume is
    * O(violations), and callers bound it further with a limit.
    *
    * Covers predicate checks, codec FK, the PCM/transcript row invariants,
    * and both reconciliation directions (missing rows tagged
    * clips_completeness, extras clips_exclusivity). Uniqueness evidence
    * stays on its own key-only plan ([[Uniqueness.duplicateKeys]]) — it is
    * a group property, not a row predicate.
    */
  def fusedViolations(clips: DataFrame, dimCodec: DataFrame,
                      clipsRef: DataFrame): DataFrame = {
    val codecSet = codecSetOf(dimCodec)
    val preds = effectiveChecks(clips)
    val tags =
      preds.map(cc => when(candPresent && cc.violation, lit(cc.name))) ++
      (if (on("codec_fk")) Seq(
        when(candPresent && fkViolation(codecSet), lit("codec_fk"))) else Nil) ++
      (if (on("clips_completeness")) Seq(
        when(col("__c").isNull && keysNonNull, lit("clips_completeness"))) else Nil) ++
      (if (on("clips_exclusivity")) Seq(
        when(col("__r").isNull && keysNonNull, lit("clips_exclusivity"))) else Nil) ++
      (if (on("pcm_allclose")) Seq(
        when(bothPresent && !pcmOk, lit("pcm_allclose"))) else Nil) ++
      (if (on("transcript_equality")) Seq(
        when(bothPresent && !(col("ref_transcript") <=> col("transcript")),
          lit("transcript_equality"))) else Nil)
    CheckCompiler.violationsFromTags(
      fusedJoin(clips, clipsRef), tags, fusedKeys)
  }

  /** Checkpoint-resumable run: validates only partitions not yet SUCCESS
    * under cfg.ruleVersion, one partition at a time (partition pruning via
    * part_id filter), recording per-partition lineage + metrics.
    *
    * One Spark job group PER partition — fine for tens of partitions,
    * driver-serialized at thousands; use [[runResumableFused]] at scale.
    */
  def runResumable(clips: DataFrame, dimCodec: DataFrame, store: CheckpointStore,
                   clipsRef: Option[DataFrame] = None): Map[String, ValidationReport] = {
    val allParts = partitionUniverse(clips, clipsRef)
    val todo = store.pending(allParts, cfg.ruleVersion)
    store.markProcessing(todo, cfg.ruleVersion)
    todo.map { p =>
      val rep = run(clips.filter(partFilter(p)), dimCodec,
        clipsRef.map(_.filter(partFilter(p))))
      store.markDone(p, rep.status == "SUCCESS", cfg.ruleVersion, metricsJson(rep))
      p -> rep
    }.toMap
  }

  /** The partition universe is candidate ∪ reference: a partition the
    * candidate load dropped WHOLESALE exists only on the reference side, and
    * deriving the universe from the candidate alone would silently skip it —
    * it must instead be validated (and fail clips_completeness).
    *
    * Rows with a NULL partition key (a corrupt load can produce them) are
    * validated under the reserved [[ValidationSession.NullPartLabel]]
    * bucket — an equality/isin filter can never select them, so without
    * the sentinel they would be silently skipped by every per-partition
    * path. Inside that bucket the fused reconciliation counts are
    * NULL-EXEMPT ([[keysNonNull]], mirroring the modular
    * [[graft.checks.Reconcile.check]]): a null-keyed CANDIDATE row is not
    * counted as __extra — it is flagged by the part_id_not_null /
    * clip_id_not_null predicate checks instead, which is what makes the
    * bucket fail (FusedResumableSpec pins clips_exclusivity == 0 there).
    * Deliberate consequence, accepted: a null-keyed REFERENCE row is
    * counted by no fused check at all — the reference table is the trusted
    * ground-truth input, and a corrupted reference is out of scope for a
    * candidate-validation verdict (the modular path's predicate suite runs
    * on the candidate only for the same reason).
    */
  private def partitionUniverse(clips: DataFrame,
                                clipsRef: Option[DataFrame]): Seq[String] = {
    import spark.implicits._
    val cand = clips.select("part_id")
    clipsRef.map(r => cand.unionByName(r.select("part_id"))).getOrElse(cand)
      .distinct().as[String].collect()
      .map(p => if (p == null) ValidationSession.NullPartLabel else p)
      .toSeq.distinct.sorted
  }

  /** Maps a (possibly null) part_id value to its checkpoint label. */
  private def labelOf(p: String): String =
    if (p == null) ValidationSession.NullPartLabel else p

  /** Selects one partition, understanding the reserved null-key label. */
  private def partFilter(p: String) =
    if (p == ValidationSession.NullPartLabel) col("part_id").isNull
    else col("part_id") === p

  /** Selects a partition set; the non-null arm stays a plain isin so
    * partition pruning still applies to it.
    */
  private def partsFilter(ps: Seq[String]) = {
    val nonNull = ps.filterNot(_ == ValidationSession.NullPartLabel)
    val base =
      if (nonNull.isEmpty) lit(false) else col("part_id").isin(nonNull: _*)
    if (ps.contains(ValidationSession.NullPartLabel)) base || col("part_id").isNull
    else base
  }

  private def metricsJson(rep: ValidationReport,
                          rowsTotal: Option[Long] = None): String =
    "{\"checks_total\":" + rep.outcomes.size +
      ",\"checks_failed\":" + rep.suites.map(_.checksFailed).sum +
      ",\"rows_failed\":" + rep.rowsFailedTotal +
      rowsTotal.map(r => ",\"rows_total\":" + r).getOrElse("") + "}"

  /** Scale path for resumable validation: ALL pending partitions validated
    * in ONE grouped fused pass — the mega-aggregate of [[runFused]] grouped
    * by part_id (plus a grouped key-only uniqueness aggregate), yielding one
    * verdict row per partition from three concurrent Spark jobs total,
    * however many partitions are pending. Per-partition drift uses each
    * partition's own histogram pair, grouped by part_id in the drift job.
    * Checkpoint rows are written in one bulk commit.
    *
    * This is what a restarted 10^12-row spark-submit actually needs: the
    * per-partition loop of [[runResumable]] costs a driver-serialized job
    * per partition; this costs O(1) jobs and a tiny per-partition shuffle.
    */
  def runResumableFused(clips: DataFrame, dimCodec: DataFrame, store: CheckpointStore,
                        clipsRef: DataFrame): Map[String, ValidationReport] = {
    import org.apache.spark.sql.Row
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    val allParts = partitionUniverse(clips, Some(clipsRef))
    val todo = store.pending(allParts, cfg.ruleVersion)
    if (todo.isEmpty) return Map.empty
    store.markProcessing(todo, cfg.ruleVersion)
    val pendSet = todo.toSet
    val cand = clips.filter(partsFilter(todo))
    val ref = clipsRef.filter(partsFilter(todo))

    val codecSet = codecSetOf(dimCodec)
    val preds = effectiveChecks(cand)
    val structural = structuralOutcomes(cand)

    val t0 = System.nanoTime()
    // job A: the grouped mega-join aggregate (same shape as runFused's)
    val fA = Future {
      val aggs = fusedCountAggs(preds, codecSet)
      fusedJoin(cand, ref)
        .groupBy(col("part_id"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
    }

    // job B: grouped key-only uniqueness (config-disableable)
    val fB =
      if (on("clip_id_uniqueness")) Some(Future {
        cand.select("part_id", "clip_id").filter(col("clip_id").isNotNull)
          .groupBy(col("part_id"), col("clip_id")).agg(count(lit(1)).as("__c"))
          .groupBy(col("part_id"))
          .agg(sum(when(col("__c") > 1, 1L).otherwise(0L)).as("dups"))
          .collect().map(r => labelOf(r.getString(0)) -> r.getLong(1)).toMap
      })
      else None

    // job C: per-partition drift histograms
    val fC =
      if (driftOn) Some(Future(Drift.histogramPairs(ref, cand, Seq("part_id"), cfg.driftColumn,
        cfg.driftLo, cfg.driftHi, cfg.driftBins).map {
        case (key, hists) => labelOf(key.head.asInstanceOf[String]) -> hists
      }))
      else None

    val (aRows, dupByPart, histsByPart) =
      try (Await.result(fA, Duration.Inf), fB.map(Await.result(_, Duration.Inf)),
        fC.map(Await.result(_, Duration.Inf)))
      finally settle(Seq(fA) ++ fB ++ fC)
    val passMs = (System.nanoTime() - t0) / 1000000L

    val reports = aRows.filter(r => pendSet.contains(labelOf(r.getString(0)))).map { row =>
      val part = labelOf(row.getString(0))
      val get = fieldGetter(row)
      val outcomes = (structural ++ fusedCountOutcomes(preds, get) ++
        dupByPart.map { byPart =>
          val dups = byPart.getOrElse(part, 0L)
          CheckOutcome("clip_id_uniqueness", RuleGroup.DuplicateRecords.toString,
            Severity.Error.toString,
            CheckOutcome.status(Severity.Error, dups).toString, dups)
        }.toSeq).map(overrideSeverity) ++
        histsByPart.toSeq.flatMap(h => driftOutcomes(h.getOrElse(part, emptyHistograms)))
      part -> (ValidationReport(Seq(SuiteReport("fused_grouped", outcomes, passMs))),
        get("__rows"))
    }.toMap

    // one bulk checkpoint upsert for every validated partition. The universe
    // is cand ∪ ref, and the full-outer join coalesces the using-columns, so
    // even a partition wholly missing from the candidate gets an aggregate
    // row (all-__missing) and a FAILED checkpoint — never silently skipped.
    // Per-partition metrics additionally record the candidate row count
    // (north-star lineage: partition, rule version, metrics).
    store.markDoneBulk(reports.toSeq.map { case (p, (rep, rows)) =>
      (p, rep.status == "SUCCESS", metricsJson(rep, rowsTotal = Some(rows)))
    }, cfg.ruleVersion)
    reports.map { case (p, (rep, _)) => p -> rep }
  }
}

object ValidationSession {
  /** Reserved checkpoint label for rows whose partition key is NULL — no
    * equality/isin filter can address them, so the resumable paths validate
    * them as this pseudo-partition instead of silently skipping them.
    */
  val NullPartLabel = "__null_part__"
}
