package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, input_file_name, length, regexp_extract, sum}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.functions.GraftFunctions
import graft.model.{Checkpoint, JsonUtil}
import graft.runner.{CheckpointStore, ResultStore, ValidationConfig, ValidationReport,
  ValidationSession}
import graft.synth.Synth

/** Per-call medians of one span name: wall, self and driver time, and the
  * Spark work of the jobs submitted while it was the innermost span.
  */
object Layer {
  def of(ctx: Ctx, at: Attribution, span: String, prefix: String): Seq[(String, Double, String)] = {
    val ss = ctx.tr.named(span)
    if (ss.isEmpty) Nil
    else {
      def med(f: Span => Double): Double = Stats.median(ss.map(f))
      def st(s: Span): JobStats = at.stats(at.ownJobs(s))
      Seq(
        (s"$prefix.calls", ss.size.toDouble, "count"),
        (s"$prefix.wall_ms", med(_.durS * 1000), "ms"),
        (s"$prefix.driver_s", med(s => ctx.tr.selfS(s) -
          at.jobCoverS(s, at.ownJobs(s))), "s"),
        (s"$prefix.jobs", med(s => at.ownJobs(s).size.toDouble), "count"),
        (s"$prefix.tasks", med(st(_).tasks.toDouble), "count"),
        (s"$prefix.exec_cpu_s", med(st(_).cpuNs / 1e9), "s"),
        (s"$prefix.exec_run_s", med(st(_).runMs / 1e3), "s"),
        (s"$prefix.gc_s", med(st(_).gcMs / 1e3), "s"),
        (s"$prefix.input_mb", med(_.readBytes / 1e6), "MB"),
        (s"$prefix.shuffle_mb", med(st(_).shuffleBytes / 1e6), "MB"),
        (s"$prefix.spill_mb", med(st(_).spillBytes / 1e6), "MB"),
        (s"$prefix.rows_out", med(st(_).outRecords.toDouble), "count"),
        (s"$prefix.mb_written", med(st(_).outBytes / 1e6), "MB"))
    }
  }

  def pick(rows: Seq[(String, Double, String)], names: String*): Seq[(String, Double, String)] =
    rows.filter(r => names.exists(n => r._1.endsWith("." + n)))

  def exhaust(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds of `n` runs of `body`. */
  def timeMedian(n: Int)(body: => Unit): Double = Stats.median((1 to n).map { _ =>
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  })
}

/** Workloads whose outputs are checked against `SparkEntry.oracleSql` by
  * DuckDB outside the JVM: the first iteration's result of each query is
  * written as parquet next to the oracle SQL.
  */
trait OracleChecked extends Workload {
  protected def queries: Seq[String]
  protected val firstRows = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  protected val digests = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Int]]()
  private var outDir = ""
  private var dataDir = ""

  protected def digest(rows: Array[Row]): Int = rows.iterator.map(_.toString).toSeq.hashCode

  /** Runs query `q` to completion as the timed op of the same name. */
  protected def runQuery(ctx: Ctx, q: String): Unit = {
    val rows = ctx.op(q) {
      val df = SparkEntry.queries(q)(ctx.spark, ctx.dir)
      (df.schema, df.collect())
    }
    if (ctx.recording) {
      if (!firstRows.contains(q)) firstRows(q) = rows
      digests.getOrElseUpdate(q, mutable.ArrayBuffer()) += digest(rows._2)
    }
  }

  /** Every iteration must return the rows of the first; those go to DuckDB. */
  protected def verifyQueries(ctx: Ctx): Unit = {
    outDir = s"${ctx.work}/oracle"
    dataDir = ctx.dir
    digests.foreach { case (q, ds) =>
      ctx.check(ds.forall(_ == ds.head), s"$q: iterations returned different rows")
      val (schema, rows) = firstRows(q)
      ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$q")
    }
  }

  override def oracleJson: String = {
    val qs = digests.map { case (q, ds) =>
      s"""${JsonUtil.quote(q)}: {"sql": ${JsonUtil.quote(SparkEntry.oracleSql(q))}, "ops": ${ds.size}}"""
    }
    s"""{"data_dir": ${JsonUtil.quote(dataDir)}, "out_dir": ${JsonUtil.quote(outDir)}, """ +
      s""""queries": {${qs.mkString(", ")}}}"""
  }
}

// ==== audit_fused =============================================================

/** One fused verdict plus its evidence over a bucketed reference table and a
  * noisy candidate with ~2% planted faults.
  */
final class AuditFused(seed: Long) extends Workload {
  private val spec = Gen.ClipSpec(seed, numParts = 8, rowsPerPart = 200, maxAudioMs = 800,
    buckets = 16, faultRate = 0.02)
  private val cfg = ValidationConfig(driftBins = 32)
  private var expected = Map.empty[String, Long]
  private var planted = Set.empty[String]
  private var dim: DataFrame = _
  private val reports = mutable.ArrayBuffer[ValidationReport]()
  private val evidence = mutable.ArrayBuffer[String]()

  // the first iterations are the slowest (JIT); later ones keep getting a
  // little faster, which the measured window's median absorbs
  override def warmUps: Int = 4

  def setup(ctx: Ctx): Long = {
    val spark = ctx.spark
    Gen.writeBucketed(Gen.clips(spark, spec, candidate = false), spec.buckets, "clips_ref",
      s"${ctx.dir}/clips_ref")
    Gen.writeBucketed(Gen.clips(spark, spec, candidate = true), spec.buckets, "clips_cand",
      s"${ctx.dir}/clips_cand")
    dim = Synth.dimCodec(spark).toDF()
    val faults = (spec.offset until spec.offset + spec.rows)
      .map(i => i -> spec.faultOf(i)).filter(_._2 > 0)
    expected = faults.groupBy(f => Gen.FaultChecks(f._2)).map { case (k, v) => k -> v.size.toLong }
    planted = faults.map(f => spec.clipIdOf(f._1)).toSet
    println(s"[setup] audit_fused: ${spec.rows} clips x 2 tables, ${spec.buckets} buckets, " +
      s"planted ${expected.toSeq.sorted.mkString(" ")}")
    Main.duBytes(s"${ctx.dir}/clips_ref") + Main.duBytes(s"${ctx.dir}/clips_cand")
  }

  def iteration(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sess = new ValidationSession(spark, cfg)
    val cand = spark.table("clips_cand")
    val ref = spark.table("clips_ref")
    val rep = ctx.op("verdict")(sess.runFused(cand, dim, ref))
    val out = s"${ctx.dir}/evidence/${ctx.iterationNo}"
    ctx.op("evidence")(sess.fusedViolations(cand, dim, ref).write.mode("overwrite").parquet(out))
    if (ctx.recording) { reports += rep; evidence += out }
  }

  def verify(ctx: Ctx): Unit = {
    reports.zipWithIndex.foreach { case (rep, k) =>
      ctx.check(rep.status == "FAILED", s"verdict $k: status ${rep.status}, expected FAILED")
      rep.outcomes.foreach { o =>
        val want = expected.getOrElse(o.checkName, 0L)
        ctx.check(o.rowsFailed == want, s"verdict $k: ${o.checkName} rows_failed=${o.rowsFailed}, expected $want")
      }
      ctx.check(expected.keys.forall(n => rep.outcomes.exists(_.checkName == n)),
        s"verdict $k: a planted check is missing from the report")
    }
    val total = expected.values.sum
    // every evidence set in one read, each row tagged with its set
    val bySet = ctx.spark.read.parquet(evidence.toSeq: _*)
      .select(regexp_extract(input_file_name(), "/evidence/([0-9]+)/", 1), col("clip_id"))
      .collect().groupBy(_.getString(0))
    evidence.foreach { out =>
      val rows = bySet.getOrElse(out.split('/').last, Array.empty[Row])
      ctx.check(rows.length == total, s"evidence $out: ${rows.length} rows, expected $total")
      val ids = rows.map(_.getString(1)).toSet
      ctx.check(planted.subsetOf(ids), s"evidence $out: planted clips missing")
    }
    val control = new ValidationSession(ctx.spark, cfg)
      .runFused(ctx.spark.table("clips_ref"), dim, ctx.spark.table("clips_ref"))
    ctx.check(control.status == "SUCCESS", s"clean control pass: ${control.status}")
    println(s"[check] audit_fused: ${reports.size} verdicts, ${evidence.size} evidence sets, control ${control.status}")
  }

  def figures(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("verdict_s", Stats.median(ctx.samples("verdict")), "s"),
    ("evidence_s", Stats.median(ctx.samples("evidence")), "s"),
    ("verdict_cpu_s", Stats.median(ctx.cpu.getOrElse("verdict", Nil).toSeq), "CPU-s"))

  def layers(ctx: Ctx, at: Attribution): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    def suiteMs(name: String) =
      Stats.median(reports.flatMap(_.suites.filter(_.suite == name).map(_.durationMs.toDouble)).toSeq)
    val fused = Layer.of(ctx, at, "verdict", "fused")
    val ev = Layer.of(ctx, at, "evidence", "evidence")
    // the layer ladder: each step adds one layer and runs to a noop sink
    val keys = Seq("part_id", "clip_id")
    val cand = spark.table("clips_cand")
    val ref = spark.table("clips_ref")
    val joined = ref.select(col("part_id"), col("clip_id"), col("bytes").as("ref_bytes"))
      .join(cand.select("part_id", "clip_id", "bytes"), keys, "full_outer")
    val ladder = Seq(
      "ladder.scan_keys_s" -> cand.select(keys.map(col): _*),
      "ladder.scan_bytes_s" -> cand.select("part_id", "clip_id", "bytes"),
      "ladder.join_s" -> joined,
      "ladder.pcm_snr_s" -> joined.select(GraftFunctions.pcmSnr(col("ref_bytes"), col("bytes"))))
      .map { case (n, df) => Layer.exhaust(df); (n, Layer.timeMedian(3)(Layer.exhaust(df)), "s") }
    val decoded = ref.select(col("part_id"), col("clip_id"), length(col("bytes")).as("a"))
      .join(cand.select(col("part_id"), col("clip_id"), length(col("bytes")).as("b")), keys)
      .agg(sum(col("a") + col("b"))).head().getLong(0)
    Seq(("fused.join_suite_ms", suiteMs("fused_join"), "ms"),
      ("fused.uniqueness_suite_ms", suiteMs("uniqueness"), "ms")) ++
      Layer.pick(fused, "driver_s", "jobs", "tasks", "exec_cpu_s", "exec_run_s", "gc_s",
        "input_mb", "shuffle_mb", "spill_mb") ++
      Layer.pick(ev, "driver_s", "exec_cpu_s", "input_mb", "shuffle_mb", "rows_out", "mb_written") ++
      ladder :+ ("pcm_snr.mb_decoded", decoded / 1e6, "MB")
  }
}

// ==== driver_mix, resume part =================================================

/** Checkpoint store whose public calls are timed as spans and counted. */
final class TimedCheckpointStore(spark: org.apache.spark.sql.SparkSession, path: String,
                                 tr: Tracer, counts: mutable.Map[String, Int])
  extends CheckpointStore(spark, path) {
  private def count(n: String): Unit = counts(n) = counts.getOrElse(n, 0) + 1
  override def readAll(): org.apache.spark.sql.Dataset[Checkpoint] = {
    count("readall"); super.readAll()
  }
  override def upsert(rows: Seq[Checkpoint]): Unit = {
    count("upsert"); tr("ckpt.upsert")(super.upsert(rows))
  }
  override def markProcessing(partIds: Seq[String], ruleVersion: String): Unit =
    tr("ckpt.mark_processing")(super.markProcessing(partIds, ruleVersion))
  override def markDoneBulk(results: Seq[(String, Boolean, String)], ruleVersion: String): Unit =
    tr("ckpt.mark_done")(super.markDoneBulk(results, ruleVersion))
  override def pending(allParts: Seq[String], ruleVersion: String): Seq[String] =
    tr("ckpt.pending")(super.pending(allParts, ruleVersion))
}

/** Partitions arriving in waves through a `part_id` bound, each wave one
  * resumable fused run plus one result-store write per validated partition.
  * One partition arrives broken, FAILs, is re-delivered repaired and is
  * retried by the next wave; the iteration ends with a no-op resume.
  */
final class ResumeWaves(seed: Long) extends Workload {
  private val spec = Gen.ClipSpec(seed, numParts = 4, rowsPerPart = 30, maxAudioMs = 250,
    buckets = 8, faultRate = 0.0)
  private val waveSize = 2
  private val parts = spec.partIds
  private val bad = parts(java.lang.Math.floorMod(Synth.mix64(seed ^ 0xbadL), parts.size - waveSize).toInt)
  private var dim: DataFrame = _
  private var tableBytes = 0L
  private val counts = mutable.Map[String, Int]()
  /** Per measured iteration: checkpoint path, results dir, wave outcomes, no-op result size. */
  private val runs = mutable.ArrayBuffer[(String, String, Seq[Map[String, String]], Int)]()

  private def waveSamples(ctx: Ctx): Seq[Double] =
    ctx.wall.collect { case (n, xs) if n.startsWith("wave_") => xs.toSeq }.flatten.toSeq
  private var warmUpNo = 0

  def setup(ctx: Ctx): Long = {
    val spark = ctx.spark
    import spark.implicits._
    Gen.writeBucketed(Gen.clips(spark, spec, candidate = false), spec.buckets, "resume_ref",
      s"${ctx.dir}/resume_ref")
    Gen.writeBucketed(Gen.clips(spark, spec, candidate = true), spec.buckets, "resume_cand",
      s"${ctx.dir}/resume_cand")
    // the first delivery of the bad partition: one transcript differs
    val first = s"clip_${"%012d".format(spec.offset + parts.indexOf(bad) * spec.rowsPerPart)}"
    Gen.writeBucketed(spark.table("resume_cand").as[graft.model.AudioClip]
      .map(c => if (c.clip_id == first) Gen.plant(c, 3) else c),
      spec.buckets, "resume_cand_broken", s"${ctx.dir}/resume_cand_broken")
    dim = Synth.dimCodec(spark).toDF()
    tableBytes = Main.duBytes(s"${ctx.dir}/resume_ref") + Main.duBytes(s"${ctx.dir}/resume_cand")
    println(s"[setup] resume: ${parts.size} partitions x ${spec.rowsPerPart} clips, " +
      s"waves of $waveSize, broken partition $bad")
    tableBytes + Main.duBytes(s"${ctx.dir}/resume_cand_broken")
  }

  /** The first wave and a no-op resume on a throwaway checkpoint: compiles
    * every plan of an iteration at half its cost.
    */
  override def warmUp(ctx: Ctx): Unit = {
    warmUpNo += 1
    val store = new CheckpointStore(ctx.spark, s"${ctx.dir}/ckpt/warm-up-$warmUpNo")
    val sess = new ValidationSession(ctx.spark)
    val first = col("part_id") <= parts(waveSize - 1)
    sess.runResumableFused(ctx.spark.table("resume_cand").filter(first), dim, store,
      ctx.spark.table("resume_ref").filter(first))
      .foreach { case (p, rep) =>
        new ResultStore(ctx.spark, s"${ctx.dir}/results/warm-up-$warmUpNo").writeReport("warm-up", p, rep, 0L)
      }
    sess.runResumableFused(ctx.spark.table("resume_cand").filter(first), dim, store,
      ctx.spark.table("resume_ref").filter(first))
    ()
  }

  def iteration(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sess = new ValidationSession(spark)
    val k = ctx.iterationNo
    val ckpt = s"${ctx.dir}/ckpt/$k"
    val resultsDir = s"${ctx.dir}/results/$k"
    val store = new TimedCheckpointStore(spark, ckpt, ctx.tr, counts)
    val results = new ResultStore(spark, resultsDir)
    var repaired = false
    // the waves differ (the second retries the broken partition): each is
    // its own op, so per-op medians never mix them
    val waves = parts.grouped(waveSize).zipWithIndex.map { case (wave, w) =>
      val bound = col("part_id") <= wave.last
      val cand = spark.table(if (repaired) "resume_cand" else "resume_cand_broken").filter(bound)
      val ref = spark.table("resume_ref").filter(bound)
      val out = ctx.op(s"wave_${w + 1}") {
        val reps = ctx.tr("resume")(sess.runResumableFused(cand, dim, store, ref))
        reps.foreach { case (p, rep) =>
          ctx.tr("results.write_report")(results.writeReport(ctx.tr.runId, p, rep, System.currentTimeMillis()))
        }
        reps
      }
      if (out.get(bad).exists(_.status == "FAILED")) repaired = true
      out.map { case (p, rep) => p -> rep.status }
    }.toList
    val noop = ctx.op("noop_resume")(ctx.tr("resume_noop")(
      sess.runResumableFused(spark.table("resume_cand"), dim, store, spark.table("resume_ref"))))
    if (ctx.recording) runs += ((ckpt, resultsDir, waves, noop.size))
  }

  def verify(ctx: Ctx): Unit = {
    runs.foreach { case (ckpt, _, waves, noop) =>
      val rows = new CheckpointStore(ctx.spark, ckpt).readAll().collect().map(c => c.part_id -> c).toMap
      ctx.check(rows.keySet == parts.toSet, s"$ckpt: checkpoint holds ${rows.size} partitions")
      ctx.check(rows.values.forall(_.status == "SUCCESS"), s"$ckpt: not every partition SUCCESS")
      rows.foreach { case (p, c) =>
        val want = if (p == bad) 2 else 1
        ctx.check(c.attempts == want, s"$ckpt: $p attempts=${c.attempts}, expected $want")
      }
      val badWave = waves.indexWhere(_.contains(bad))
      ctx.check(badWave >= 0 && waves(badWave)(bad) == "FAILED", s"$ckpt: $bad did not FAIL first")
      ctx.check(waves.flatten.count(_._1 == bad) == 2 && waves.flatten.filter(_._1 == bad).last == (bad -> "SUCCESS"),
        s"$ckpt: $bad was not retried to SUCCESS")
      ctx.check(waves.flatten.count(_._2 == "FAILED") == 1, s"$ckpt: unexpected FAILED partitions")
      ctx.check(noop == 0, s"$ckpt: no-op resume validated $noop partitions")
    }
    println(s"[check] resume: ${runs.size} iterations, ${runs.map(_._3.size).sum} waves")
  }

  def figures(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("wave_s", Stats.median(waveSamples(ctx)), "s"),
    ("noop_resume_s", Stats.median(ctx.samples("noop_resume")), "s"))

  def layers(ctx: Ctx, at: Attribution): Seq[(String, Double, String)] = {
    val resume = Layer.of(ctx, at, "resume", "resume")
    // bytes read during the wave's resumable run per on-disk byte of the
    // partitions it validated (reference + candidate)
    val waves = ctx.tr.named("resume")
    val amp = Stats.median(waves.map { s =>
      val validated = ctx.tr.spans.count(c => c.parent == s.parent && c.name == "results.write_report")
      s.readBytes.toDouble / (tableBytes.toDouble * validated / parts.size)
    })
    val iters = math.max(1, ctx.tr.named("iteration").size)
    def ckptMs(n: String) = Stats.median(ctx.tr.named(n).map(_.durS * 1000))
    val ckptSpans = ctx.tr.spans.filter(_.name.startsWith("ckpt.")).toSeq
    val ckptDirKb = runs.lastOption.fold(0L)(r => Main.duBytes(r._1)) / 1e3
    Layer.pick(resume, "driver_s", "jobs", "exec_cpu_s", "input_mb") ++ Seq(
      ("resume.read_amplification", amp, "ratio"),
      ("ckpt.pending_ms", ckptMs("ckpt.pending"), "ms"),
      ("ckpt.mark_processing_ms", ckptMs("ckpt.mark_processing"), "ms"),
      ("ckpt.mark_done_ms", ckptMs("ckpt.mark_done"), "ms"),
      ("ckpt.upsert_ms", ckptMs("ckpt.upsert"), "ms"),
      ("ckpt.upserts", ctx.tr.named("ckpt.upsert").size.toDouble / iters, "count"),
      ("ckpt.readall_calls", counts.getOrElse("readall", 0).toDouble / math.max(1, ctx.iterationNo), "count"),
      ("ckpt.jobs", ckptSpans.map(s => at.ownJobs(s).size).sum.toDouble / iters, "count"),
      ("ckpt.dir_kb", ckptDirKb, "kB"),
      ("results.write_report_ms", ckptMs("results.write_report"), "ms"),
      ("results.jobs", ctx.tr.named("results.write_report")
        .map(s => at.ownJobs(s).size).sum.toDouble / iters, "count"),
      ("results.files", runs.lastOption.fold(0L)(r => countFiles(r._2)).toDouble, "count"))
  }

  private def countFiles(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
    else Option(f.listFiles()).fold(0L)(_.iterator.map(c => countFiles(c.getPath)).sum)
  }
}

// ==== driver_mix, query part ==================================================

/** Driver queries over seeded inputs, each checked against its
  * `SparkEntry.oracleSql` twin: the top non-stream leaves over a subsample of
  * generated TPC-H-like tables and documents, then seeded events replayed
  * in four batches (plus two watermark sentinels) through the windowed
  * check-count streaming twin. `q_dedup_best` is left
  * out: its MinHash candidate stage misses near-duplicate pairs that its
  * exact oracle keeps (see README.md), so it cannot pass the output check.
  */
final class DriverQueries(seed: Long) extends Workload with OracleChecked {
  private val catalog = Seq("q_prefix_jaccard", "q_mart_checks", "q_mad_outliers")
  private val streams = Seq("q_stream_window_counts")
  protected val queries: Seq[String] = catalog ++ streams
  private val numEvents = 4000L
  private val users = 150


  private val tables = Seq("customer", "orders", "lineitem", "documents", "events")

  def setup(ctx: Ctx): Long = {
    Gen.writeCatalog(ctx.spark, seed, ctx.dir, customers = 800, orders = 8000, documents = 500)
    Gen.events(ctx.spark, seed, numEvents, users, days = 30)
      .coalesce(1).write.mode("overwrite").parquet(s"${ctx.dir}/events.parquet")
    tables.map(t => Main.duBytes(s"${ctx.dir}/$t.parquet")).sum
  }

  override def describe(ctx: Ctx): Unit =
    tables.foreach { t =>
      val p = s"${ctx.dir}/$t.parquet"
      println(s"[setup] $t: ${ctx.spark.read.parquet(p).count()} rows, ${Main.duBytes(p) / 1e6} MB")
    }

  def iteration(ctx: Ctx): Unit = {
    queries.foreach(q => runQuery(ctx, q))
  }

  def verify(ctx: Ctx): Unit = verifyQueries(ctx)

  private def triggers(ctx: Ctx): (Seq[String], Seq[Trigger]) = {
    org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)
    ctx.triggers.snapshot()
  }

  def figures(ctx: Ctx): Seq[(String, Double, String)] = {
    val (_, ts) = triggers(ctx)
    Seq(("catalog_pass_s", catalog.map(q => Stats.median(ctx.samples(q))).sum, "s"),
      ("replay_s", Stats.median(streams.flatMap(ctx.samples)), "s"),
      ("trigger_ms", Stats.median(ts.map(_.ms("triggerExecution").toDouble)), "ms"))
  }

  def layers(ctx: Ctx, at: Attribution): Seq[(String, Double, String)] = {
    val iters = math.max(1, ctx.tr.named("iteration").size)
    // ops / mart / checks: the catalog queries
    val cat = catalog.flatMap(q => ctx.tr.named(q))
    val st = at.stats(cat.flatMap(s => at.ownJobs(s)))
    val catalogRows = catalog.map(q => (s"catalog.${q}_s", Stats.median(ctx.tr.named(q).map(_.durS)), "s")) ++ Seq(
      ("catalog.exec_cpu_s", st.cpuNs / 1e9 / iters, "s"),
      ("catalog.shuffle_mb", st.shuffleBytes / 1e6 / iters, "MB"),
      ("catalog.spill_mb", st.spillBytes / 1e6 / iters, "MB"),
      ("catalog.jobs", cat.map(s => at.ownJobs(s).size).sum.toDouble / iters, "count"))
    // streaming: trigger phases from the progress events
    val (runIds, ts) = triggers(ctx)
    def phase(p: String) = Stats.median(ts.map(_.ms(p).toDouble))
    // replays run one at a time and start in order: the k-th streaming query
    // of the measured loop is its k-th replay
    val replays = streams.flatMap(ctx.samples)
    val perRun = ts.groupBy(_.runId)
    val driver = Stats.median(replays.zip(runIds).map { case (wall, id) =>
      wall - perRun.getOrElse(id, Nil).map(_.ms("triggerExecution")).sum / 1e3 })
    val stateful = ts.filter(_.stateRows > 0)
    catalogRows ++ Seq(
      ("stream.triggers", ts.size.toDouble / math.max(1, replays.size), "count"),
      ("stream.add_batch_ms", phase("addBatch"), "ms"),
      ("stream.wal_commit_ms", phase("walCommit"), "ms"),
      ("stream.commit_offsets_ms", phase("commitOffsets"), "ms"),
      ("stream.query_planning_ms", phase("queryPlanning"), "ms"),
      ("stream.get_batch_ms", phase("getBatch"), "ms"),
      ("stream.latest_offset_ms", phase("latestOffset"), "ms"),
      ("stream.state_commit_ms", Stats.median(stateful.map(_.stateCommitMs.toDouble)), "ms"),
      ("stream.state_rows", Stats.median(stateful.map(_.stateRows.toDouble)), "count"),
      ("stream.state_mem_mb", Stats.median(stateful.map(_.stateMemBytes / 1e6)), "MB"),
      ("stream.replay_driver_s", driver, "s")) ++
      streams.map(q => (s"stream.${q.stripPrefix("q_stream_")}_s",
        Stats.median(ctx.tr.named(q).map(_.durS)), "s"))
  }
}

// ==== driver_mix ==============================================================

/** [[ResumeWaves]] and [[DriverQueries]] as one workload: each iteration
  * runs a resume part, then a query part. Both are bound by driver
  * bookkeeping and planning over tiny inputs; together they reach every
  * layer `audit_fused` does not.
  */
final class DriverMix(seed: Long) extends Workload {
  private val resume = new ResumeWaves(seed)
  private val queries = new DriverQueries(seed)
  private val parts = Seq(resume, queries)

  def setup(ctx: Ctx): Long = parts.map(_.setup(ctx)).sum
  override def describe(ctx: Ctx): Unit = parts.foreach(_.describe(ctx))
  def iteration(ctx: Ctx): Unit = parts.foreach(_.iteration(ctx))
  override def warmUp(ctx: Ctx): Unit = parts.foreach(_.warmUp(ctx))
  override def warmUps: Int = 2
  def verify(ctx: Ctx): Unit = parts.foreach(_.verify(ctx))
  def figures(ctx: Ctx): Seq[(String, Double, String)] = parts.flatMap(_.figures(ctx))
  def layers(ctx: Ctx, at: Attribution): Seq[(String, Double, String)] =
    parts.flatMap(_.layers(ctx, at))
  override def oracleJson: String = queries.oracleJson
}
