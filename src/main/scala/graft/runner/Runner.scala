package graft.runner

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  import ValidationSession.CatalogCheck

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

  /** Times one suite body with per-suite error containment for the modular
    * collect-all path: a runtime failure in one suite (transient storage
    * error, ...) records ERROR outcomes for that suite's checks — the
    * reference runner's behaviour (`validators/runner.py:109-228` audits
    * ERROR and continues) — instead of discarding every other suite's
    * results with it.
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
    * bytes column out of every suite except rowinvariant. The built-in
    * suites take their check names and enablement from [[catalog]].
    */
  def run(clips: DataFrame, dimCodec: DataFrame,
          clipsRef: Option[DataFrame] = None): ValidationReport = {
    val noBytes = clips.drop("bytes")
    val preds = cfg.engineConfig.applyTo(cfg.predicateChecks)
    // names and suites only: no violation column is evaluated here, so the
    // codec FK needs no dimension collect
    val names = catalog(clips, codecSet = Nil).groupBy(_.suite)
      .map { case (s, cs) => s -> cs.map(_.name) }.withDefaultValue(Nil)
    // every check can be config-disabled BY NAME (the reference's
    // validation overrides) — an all-disabled suite is dropped, and
    // multi-check suite bodies filter their outcomes to the enabled set
    def suite(name: String, checks: Seq[String])(body: => Seq[CheckOutcome]) =
      if (checks.isEmpty) Nil else Seq((name, checks, () => body))

    val allSuites: Seq[(String, Seq[String], () => Seq[CheckOutcome])] =
      cfg.schemaSpec.toSeq.map(spec =>
        ("schema", spec.fields.map(_.name),
          // the config registry applies to the compiled schema row rules
          // here exactly as catalog applies it on the fused paths
          () => SchemaCheck.run(clips, spec, cfg.engineConfig.applyTo))) ++
      suite("predicate", preds.map(_.name))(CheckCompiler.run(clips, preds)) ++
      suite("uniqueness", Seq(UniquenessCheck).filter(on))(
        Seq(Uniqueness.check(noBytes, Seq("clip_id"), UniquenessCheck))) ++
      suite("referential", names("referential"))(names("referential").map(
        Referential.check(noBytes, dimCodec, Seq("codec"), Seq("codec"), _))) ++
      clipsRef.toSeq.flatMap { ref =>
        val recNames = names("reconciliation")
        val rowNames = names("rowinvariant")
        val driftNames = Seq(driftKsName, driftPsiName).filter(on)
        suite("reconciliation", recNames)(
          Reconcile.check(ref.drop("bytes"), noBytes, Seq("part_id", "clip_id"), "clips")
            .outcomes.filter(o => recNames.contains(o.checkName))) ++
        // pass the toggles down: a disabled pcm_allclose must skip the
        // decode+SNR pass entirely, not compute-and-discard it
        suite("rowinvariant", rowNames)(RowInvariant.check(ref, clips, cfg.minSnrDb,
          computePcm = rowNames.contains(PcmCheck),
          computeTranscript = rowNames.contains(TranscriptCheck))) ++
        suite("drift", driftNames)(
          Drift.check(ref.drop("bytes"), noBytes, cfg.driftColumn,
            cfg.driftLo, cfg.driftHi, cfg.driftBins, cfg.ksThreshold)
            .filter(o => driftNames.contains(o.checkName)))
      }
    // config-driven suite enable/disable (validators/configs/*.yml analogue)
    val suites = allSuites.filter { case (name, _, _) =>
      cfg.engineConfig.suiteEnabled(name) }

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

  // ==== the check catalog ====================================================

  /** Check-level config enablement. The reference's validation overrides
    * can disable ANY check by name (`experiments/run.py`
    * `*_validation_overrides`): predicate checks, schema row rules, the
    * built-ins, uniqueness and drift alike.
    */
  private def on(name: String): Boolean = cfg.engineConfig.checkEnabled(name)
  private def driftKsName = s"${cfg.driftColumn}_ks_drift"
  private def driftPsiName = s"${cfg.driftColumn}_psi_drift"
  private def driftOn: Boolean = on(driftKsName) || on(driftPsiName)

  private val UniquenessCheck = "clip_id_uniqueness"
  private val PcmCheck = "pcm_allclose"
  private val TranscriptCheck = "transcript_equality"

  private val fusedKeys = Seq("part_id", "clip_id")

  /** The check catalog: every row rule, defined once for every runner path.
    * It holds the configured predicate checks and the declared schema's
    * compiled row rules, then the built-in codec FK, reconciliation and row
    * invariants. The fused aggregate, its outcomes and the evidence tags
    * are maps over it; the modular `run` reads the built-in suites' names
    * from it. Config-disabled checks are left out here, once; severity
    * overrides apply to every outcome through [[overrideSeverity]].
    *
    * Check names are GLOBAL identifiers (config registry, result tables and
    * the fused aggregate's column aliases all key on them), so a name used
    * twice — or a name taken by the row count, uniqueness or drift — is
    * rejected instead of producing two outcomes under one name.
    *
    * `codecSet` feeds only the codec FK's violation column.
    */
  private def catalog(clips: DataFrame, codecSet: Seq[String]): Seq[CatalogCheck] = {
    val candPresent = col("__c").isNotNull
    val bothPresent = col("__r").isNotNull && candPresent
    // Reconciliation is NULL-EXEMPT like the reference's key checks
    // (`fact_match_fk.py:23`, `areas_uniqueness.py:36`) and the modular
    // Reconcile.check: a row whose join key is null can never be matched,
    // and counting it as missing/extra would misclassify what is really a
    // missing-value problem — the part_id/clip_id not-null predicate
    // checks flag those rows instead.
    val keysNonNull = fusedKeys.map(col(_).isNotNull).reduce(_ && _)
    // identical bytes skip the decode; null bytes fall through to pcm_snr,
    // which returns -Inf (always a violation) — RowInvariant.compare semantics
    val pcmOk = (col("ref_bytes").isNotNull && (col("ref_bytes") <=> col("bytes"))) ||
      RowInvariant.snrColumn(col("ref_bytes"), col("bytes")) >= cfg.minSnrDb
    def rowRules(suite: String, checks: Seq[Check]) = checks.map(c =>
      CatalogCheck(c.name, suite, c.ruleGroup, c.severity, candPresent && c.violation))
    val all = rowRules("predicate", cfg.predicateChecks) ++
      rowRules("schema", cfg.schemaSpec.toSeq.flatMap(SchemaCheck.compile(clips, _))) ++ Seq(
        // the dimension collapsed to a broadcast-literal IN set
        CatalogCheck("codec_fk", "referential", RuleGroup.ReferentialIntegrity, Severity.Error,
          candPresent && (col("codec").isNotNull && !col("codec").isin(codecSet: _*))),
        CatalogCheck("clips_completeness", "reconciliation", RuleGroup.Reconciliation,
          Severity.Error, col("__c").isNull && keysNonNull),
        CatalogCheck("clips_exclusivity", "reconciliation", RuleGroup.Reconciliation,
          Severity.Warning, col("__r").isNull && keysNonNull),
        CatalogCheck(PcmCheck, "rowinvariant", RuleGroup.RowInvariant, Severity.Error,
          bothPresent && !pcmOk, expected = Some(s"SNR >= ${cfg.minSnrDb} dB")),
        CatalogCheck(TranscriptCheck, "rowinvariant", RuleGroup.RowInvariant, Severity.Error,
          bothPresent && !(col("ref_transcript") <=> col("transcript"))))
    val dups = (all.map(_.name) ++ Seq("__rows", UniquenessCheck, driftKsName, driftPsiName))
      .groupBy(identity).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate check name(s): ${dups.mkString(",")} — two checks share a name; rename one")
    all.filter(c => on(c.name))
  }

  /** The dimension's non-NULL codecs, deduplicated on the driver: the
    * dimension is small, and a distinct aggregate would cost a shuffle job
    * per call. A NULL in the set would make `NOT IN` NULL for every codec
    * outside it, so no orphan would count; the modular anti-join never
    * matches a NULL key either.
    */
  private def codecSetOf(dimCodec: DataFrame): Seq[String] =
    dimCodec.select(col("codec")).collect().flatMap(r => Option(r.getString(0))).toSeq.distinct

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

  // ==== the fused pass ========================================================

  /** The fused pass behind both fused entry points: every check over one
    * read of each table's heavy `bytes` column, in THREE concurrent jobs,
    * each grouped by `keys` (Nil: one group for the whole input):
    *
    *  A. ONE full-outer join ref↔cand ([[fusedJoin]]) whose single
    *     aggregate evaluates the whole [[catalog]] plus the candidate row
    *     count;
    *  B. the clip_id uniqueness aggregate (key-only columns, tiny shuffle);
    *  C. both drift histograms ([[Drift.histogramPairs]]: the drift
    *     column only, no join).
    *
    * Returns, per group of job A (the full-outer join yields a group for
    * every key on either side), its key values, its candidate row count and
    * the suites `fused_join` (structural schema findings, then the catalog),
    * `uniqueness` and `drift` — the last two when enabled — each timed by
    * its own job. The jobs settle together ([[graft.Settle]]).
    */
  private def fusedPass(cand: DataFrame, dimCodec: DataFrame, ref: DataFrame,
                        keys: Seq[String]): Seq[(Seq[Any], Long, Seq[SuiteReport])] = {
    def timed[T](body: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val out = body
      (out, (System.nanoTime() - t0) / 1000000L)
    }
    def keyOf(r: Row): Seq[Any] = keys.indices.map(r.get)
    def longAt(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

    val checks = catalog(cand, codecSetOf(dimCodec))
    val structural = cfg.schemaSpec.toSeq.flatMap(SchemaCheck.structural(cand, _))
    val aggs = sum(when(col("__c").isNotNull, 1L).otherwise(0L)).as("__rows") +:
      checks.map(c => sum(when(c.violation, 1L).otherwise(0L)).as(c.name))
    val ((aRows, aMs), b, c) = graft.Settle(
      timed(fusedJoin(cand, ref).groupBy(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*).collect()),
      if (!on(UniquenessCheck)) None
      else Some(timed(
        cand.select((keys :+ "clip_id").map(col): _*).filter(col("clip_id").isNotNull)
          .groupBy((keys :+ "clip_id").map(col): _*).agg(count(lit(1)).as("__n"))
          .groupBy(keys.map(col): _*)
          .agg(sum(when(col("__n") > 1, 1L).otherwise(0L)).as("dups"))
          .collect())),
      if (!driftOn) None
      else Some(timed(Drift.histogramPairs(ref, cand, keys, cfg.driftColumn,
        cfg.driftLo, cfg.driftHi, cfg.driftBins))))
    val dupsByKey = b.map { case (rows, ms) =>
      (rows.map(r => keyOf(r) -> longAt(r, keys.size)).toMap, ms) }
    val zero = Drift.Histogram(cfg.driftLo, cfg.driftHi, new Array[Long](cfg.driftBins))
    def suite(name: String, outcomes: Seq[CheckOutcome], ms: Long) =
      SuiteReport(name, outcomes.map(overrideSeverity), ms)

    aRows.toSeq.map { row =>
      val key = keyOf(row)
      val joined = structural ++ checks.map { cc =>
        val n = longAt(row, row.fieldIndex(cc.name))
        CheckOutcome(cc.name, cc.group.toString, cc.severity.toString,
          CheckOutcome.status(cc.severity, n).toString, n, expectedValue = cc.expected)
      }
      val uniqueness = dupsByKey.map { case (byKey, ms) => suite("uniqueness", Seq(
        Uniqueness.outcome(UniquenessCheck, Seq("clip_id"), Severity.Error,
          byKey.getOrElse(key, 0L))), ms) }
      val drift = c.map { case (byKey, ms) =>
        val (refHist, candHist) = byKey.getOrElse(key, (zero, zero))
        suite("drift", Drift.outcomes(refHist, candHist, cfg.driftColumn, cfg.ksThreshold)
          .filter(o => on(o.checkName)), ms)
      }
      (key, longAt(row, row.fieldIndex("__rows")),
        Seq(suite("fused_join", joined, aMs)) ++ uniqueness ++ drift)
    }
  }

  // ==== fused entry points ===================================================

  /** FUSED whole-engine pass — the C16 "one statement evaluates every check"
    * pivot (`specs.py:421-426`) extended from predicate checks to the entire
    * suite catalog: [[fusedPass]] over the whole input. The modular `run`
    * issues ~12 Spark jobs (6 suites × 1-2 actions), each re-scanning its
    * inputs; this plan reads each table's heavy `bytes` column EXACTLY ONCE,
    * in three concurrent jobs reported as the suites `fused_join`,
    * `uniqueness` and `drift`.
    *
    * Reconciliation counts are row-level here (key-level in the modular
    * path) — identical verdicts, and identical counts when clip_id is
    * unique (which the uniqueness job enforces). Drift histograms come from
    * each table, as in the modular Drift.check.
    */
  def runFused(clips: DataFrame, dimCodec: DataFrame,
               clipsRef: DataFrame): ValidationReport =
    ValidationReport(fusedPass(clips, dimCodec, clipsRef, Nil).head._3)

  /** Fused EVIDENCE pass — violation ROWS for every [[catalog]] check in
    * ONE scan of the ref↔cand join (the fail_sql twin of [[runFused]]):
    * each surviving row carries the array of check names it violates,
    * exploded to (part_id, clip_id, check_name). At 10^12 rows this
    * replaces one fail_sql job per failed check with a single pass; output
    * volume is O(violations), and callers bound it further with a limit.
    *
    * A row missing from the candidate is tagged clips_completeness, an
    * extra one clips_exclusivity. Uniqueness evidence stays on its own
    * key-only plan ([[Uniqueness.duplicateKeys]]) — it is a group
    * property, not a row predicate.
    */
  def fusedViolations(clips: DataFrame, dimCodec: DataFrame,
                      clipsRef: DataFrame): DataFrame =
    CheckCompiler.violationsFromTags(fusedJoin(clips, clipsRef),
      catalog(clips, codecSetOf(dimCodec)).map(c => when(c.violation, lit(c.name))),
      fusedKeys)

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
    * NULL-EXEMPT (see [[catalog]], mirroring the modular
    * [[graft.checks.Reconcile.check]]): a null-keyed CANDIDATE row is not
    * counted as extra — it is flagged by the part_id_not_null /
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
    * in ONE [[fusedPass]] grouped by part_id, yielding one verdict per
    * partition from three concurrent Spark jobs total, however many
    * partitions are pending — the same checks, outcomes and order as
    * [[runFused]] on each partition alone, reported as one `fused_grouped`
    * suite timed by the whole pass. Per-partition drift uses each
    * partition's own histogram pair. Checkpoint rows are written in one
    * bulk commit.
    *
    * This is what a restarted 10^12-row spark-submit actually needs: the
    * per-partition loop of [[runResumable]] costs a driver-serialized job
    * per partition; this costs O(1) jobs and a tiny per-partition shuffle.
    */
  def runResumableFused(clips: DataFrame, dimCodec: DataFrame, store: CheckpointStore,
                        clipsRef: DataFrame): Map[String, ValidationReport] = {
    val allParts = partitionUniverse(clips, Some(clipsRef))
    val todo = store.pending(allParts, cfg.ruleVersion)
    if (todo.isEmpty) return Map.empty
    store.markProcessing(todo, cfg.ruleVersion)
    val pendSet = todo.toSet

    val t0 = System.nanoTime()
    val groups = fusedPass(clips.filter(partsFilter(todo)), dimCodec,
      clipsRef.filter(partsFilter(todo)), Seq("part_id"))
    val passMs = (System.nanoTime() - t0) / 1000000L
    val reports = groups.map { case (key, rows, suites) =>
      labelOf(key.head.asInstanceOf[String]) ->
        (ValidationReport(Seq(SuiteReport("fused_grouped", suites.flatMap(_.outcomes), passMs))),
          rows)
    }.filter { case (part, _) => pendSet.contains(part) }.toMap

    // one bulk checkpoint upsert for every validated partition. The universe
    // is cand ∪ ref, and the full-outer join coalesces the using-columns, so
    // even a partition wholly missing from the candidate gets an aggregate
    // row (all rows missing) and a FAILED checkpoint — never silently
    // skipped. Per-partition metrics additionally record the candidate row
    // count (north-star lineage: partition, rule version, metrics).
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

  /** One row rule of a session's check catalog: its `violation` is true
    * for the rows of the fused ref↔cand join that violate it; `suite` is
    * where the modular `run` reports it.
    */
  private final case class CatalogCheck(
      name: String,
      suite: String,
      group: RuleGroup.RuleGroup,
      severity: Severity.Severity,
      violation: Column,
      expected: Option[String] = None)
}
