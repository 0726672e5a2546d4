package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** A closed-loop workload with one caller. The harness gives each method a
  * [[Ctx]]; `iteration` is the timed unit, everything else runs outside the
  * timed region.
  */
trait Workload {
  /** Generates and registers the inputs; returns the bytes generated. */
  def setup(ctx: Ctx): Long
  def iteration(ctx: Ctx): Unit
  /** Prints the sizes of the generated inputs (after set-up, untimed). */
  def describe(ctx: Ctx): Unit = ()
  /** Untimed work before the measured loop (JIT, codegen caches). */
  def warmUp(ctx: Ctx): Unit = iteration(ctx)
  /** How many times `warmUp` runs: a count, not a time, so the measured
    * iterations sit at the same positions whatever the host's speed.
    */
  def warmUps: Int = 1
  /** Output checks, run after the measured loop; report through ctx.fail. */
  def verify(ctx: Ctx): Unit
  /** The workload's own end-to-end figures, by name, for the text report. */
  def figures(ctx: Ctx): Seq[(String, Double, String)]
  /** Per-layer figures of a traced run (after the traced loop). */
  def layers(ctx: Ctx, at: Attribution): Seq[(String, Double, String)]
  /** Queries for the DuckDB oracle check in run.py, as JSON, or `null`. */
  def oracleJson: String = "null"
}

/** Everything one run shares: the session, its directories, the tracer, the
  * listeners and the per-op samples.
  */
final class Ctx(val seed: Long, val work: String, val cores: Int, val tr: Tracer) {
  var spark: SparkSession = _
  var dir: String = _
  val jobs = new JobLog
  val triggers = new TriggerLog
  /** Seconds of wall and process CPU per op, in the order measured. */
  val wall = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val cpu = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0
  var failed = 0
  /** Ops are recorded only while measuring (not during warm-up). */
  var recording = false
  var iterationNo = 0

  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** One timed engine operation, inside a span of the same name. */
  def op[T](name: String)(body: => T): T = {
    if (recording) attempted += 1
    val c0 = cpuS
    val t0 = System.nanoTime()
    val out = tr(name)(body)
    if (recording) {
      wall.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
      cpu.getOrElseUpdate(name, mutable.ArrayBuffer()) += cpuS - c0
    }
    out
  }

  def fail(msg: String, ops: Int = 1): Unit = {
    failed += ops
    println(s"[check] FAIL $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def samples(name: String): Seq[Double] = wall.get(name).fold(Seq.empty[Double])(_.toSeq)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The wall of one iteration built from per-op medians: the sum over the
    * recorded ops of calls per iteration times the median call. With only a
    * few iterations in a run this is steadier than their median, as every
    * op's median damps its own outliers.
    */
  def iterationFromOps(wall: collection.Map[String, mutable.ArrayBuffer[Double]],
                       iterations: Int): Double =
    wall.values.map(xs => xs.size.toDouble / iterations * median(xs.toSeq)).sum

  /** The highest percentile with at least ten samples beyond it, if any. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    Seq(99, 90).find(p => n * (100 - p) / 100 >= 10).map { p =>
      val s = xs.sorted
      p -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1))
    }
  }
}

object Main {

  private def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("graft-perfbench")
      // the settings of graft.Bench's session
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.sql.codegen.maxFields", "400")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(ctx.jobs)
    s.streams.addListener(ctx.triggers)
    s
  }

  private def stopSession(ctx: Ctx): Unit = if (ctx.spark != null) {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    ctx.spark = null
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  def duBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).fold(0L)(_.iterator.map(c => duBytes(c.getPath)).sum)
  }

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def workload(name: String, seed: Long): Workload = name match {
    case "audit_fused" => new AuditFused(seed)
    case "driver_mix" => new DriverMix(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs iterations while another one is expected to end within `seconds`
    * (at least one; two when alternating), judged by the mean iteration so
    * far. Returns the (wall, cpu, traced) of each iteration; with `alternate`,
    * every other iteration is traced, starting with an untraced one.
    */
  private def loop(ctx: Ctx, wl: Workload, seconds: Double,
                   alternate: Boolean = false): Seq[(Double, Double, Boolean)] = {
    val out = mutable.ArrayBuffer[(Double, Double, Boolean)]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    def fits = System.nanoTime() + out.map(_._1).sum / out.size * 1e9 <= end
    while (out.isEmpty || (alternate && out.size < 2) || fits) {
      ctx.tr.on = alternate && out.size % 2 == 1
      val c0 = ctx.cpuS
      val t0 = System.nanoTime()
      ctx.tr("iteration")(wl.iteration(ctx))
      out += (((System.nanoTime() - t0) / 1e9, ctx.cpuS - c0, ctx.tr.on))
      ctx.iterationNo += 1
    }
    ctx.tr.on = false
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val ctx = new Ctx(seed, work, cores, new Tracer(s"$wlName-$seed-${System.currentTimeMillis()}"))
    val wl = workload(wlName, seed)
    val run0 = System.nanoTime()
    // where a run's wall goes, for sizing run_seconds against the run budget
    def phase(name: String): Unit = println(f"[phase] $name%-8s done at ${(System.nanoTime() - run0) / 1e9}%.1f s")
    println(s"[env] workload=$wlName seed=$seed cores=$cores " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory() / (1 << 20)} " +
      s"jdk=${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION}")

    // ---- set-up, several times: session start + input generation --------
    val setupRuns = (0 until 3).map { k =>
      stopSession(ctx)
      if (ctx.dir != null) rmTree(new java.io.File(ctx.dir))
      ctx.dir = s"$work/data-$k"
      val t0 = System.nanoTime()
      ctx.spark = session(ctx)
      val t1 = System.nanoTime()
      val bytes = wl.setup(ctx)
      val t2 = System.nanoTime()
      println(f"[setup] #$k session_s=${(t1 - t0) / 1e9}%.3f gen_s=${(t2 - t1) / 1e9}%.3f " +
        f"mb=${bytes / 1e6}%.1f")
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, bytes)
    }
    val setupS = Stats.median(setupRuns.map(r => r._1 + r._2))
    wl.describe(ctx)
    phase("setup")

    // ---- warm-up (JIT, codegen caches), then the measured loop ----------
    val result = mutable.LinkedHashMap[String, (Double, String)]()
    try {
      (1 to wl.warmUps).foreach(_ => wl.warmUp(ctx))
      phase("warm-up")
      ctx.recording = true
      org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)
      ctx.jobs.clear(); ctx.triggers.clear()
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcS
      val w0 = System.nanoTime()
      val runs = loop(ctx, wl, seconds, alternate = traced)
      val wallS = (System.nanoTime() - w0) / 1e9
      phase("measure")
      val plain = runs.filterNot(_._3)
      val iterS = Stats.median(plain.map(_._1))
      val iterOpsS = Stats.iterationFromOps(ctx.wall, runs.size)
      println(f"[measure] iterations=${runs.size} iter_s median=$iterS%.4f " +
        s"samples=${runs.map(p => f"${p._1}%.3f${if (p._3) "(traced)" else ""}").mkString(",")}")
      Stats.tail(plain.map(_._1)).foreach { case (p, v) => println(f"[measure] iter_s p$p=$v%.4f") }

      if (!traced) {
        wl.figures(ctx).foreach { case (n, v, u) => println(f"[e2e] $n%-22s ${fmt(v)} $u") }
        println(f"[e2e] iter_median_s          ${fmt(iterS)} s")
        println(f"[e2e] iter_cpu_s             ${fmt(Stats.median(plain.map(_._2)))} CPU-s")
        println(f"[e2e] peak_rss_mb            ${fmt(peakRssMb)} MB")
        result("iter_s") = (iterOpsS, "s")
        result("setup_s") = (setupS, "s")
      } else {
        val gcPerIter = (gcS - gc0) / runs.size
        val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
        org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)
        val at = new Attribution(ctx.tr, ctx.jobs.snapshot())
        val iters = ctx.tr.named("iteration")
        def perIter(f: Span => Double): Double = Stats.median(iters.map(f))
        def within(s: Span) = at.stats(at.jobsWithin(s))
        val layerRows = wl.layers(ctx, at)
        result("spark.jobs") = (perIter(s => at.jobsWithin(s).size.toDouble), "count")
        result("spark.tasks") = (perIter(s => within(s).tasks.toDouble), "count")
        result("spark.exec_cpu_s") = (perIter(s => within(s).cpuNs / 1e9), "s")
        result("spark.exec_run_s") = (perIter(s => within(s).runMs / 1e3), "s")
        result("read_mb") = (perIter(_.readBytes / 1e6), "MB")
        result("spark.shuffle_mb") = (perIter(s => within(s).shuffleBytes / 1e6), "MB")
        result("driver_s") = (perIter(s => s.durS - at.jobCoverS(s, at.jobsWithin(s))), "s")
        result("jvm.gc_s") = (gcPerIter, "s")
        result("jvm.heap_peak_mb") = (heapPeakMb, "MB")
        result("setup.session_s") = (Stats.median(setupRuns.map(_._1)), "s")
        result("setup.gen_s") = (Stats.median(setupRuns.map(_._2)), "s")
        result("setup.mb_generated") = (setupRuns.last._3 / 1e6, "MB")
        // how much of the traced iterations' wall the spans and their jobs explain
        val tracedWall = runs.filter(_._3).map(_._1).sum
        val covered = iters.map(_.durS).sum
        val jobCover = iters.map(s => at.jobCoverS(s, at.jobsWithin(s))).sum
        // self time of the layer spans: the wall the layer calls explain
        val selfSum = ctx.tr.spans.filter(_.name != "iteration").map(ctx.tr.selfS).sum
        result("trace.accounted") = (selfSum / tracedWall, "ratio")
        println(f"[trace] traced_wall_s=$tracedWall%.3f span_self_sum_s=$selfSum%.3f " +
          f"(spark jobs ${jobCover / covered * 100}%.1f%%, driver ${(covered - jobCover) / covered * 100}%.1f%%) " +
          f"run_wall_s=$wallS%.3f")
        val tracedMed = Stats.median(runs.filter(_._3).map(_._1))
        println(f"[trace] overhead_s=${tracedMed - iterS}%.4f (traced median $tracedMed%.4f " +
          f"- untraced median $iterS%.4f, alternating iterations)")
        layerRows.foreach { case (n, v, u) => println(f"[layer] $n%-28s ${fmt(v)} $u") }
        writeTrace(ctx, at, s"$work/trace.json", layerRows)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

    // ---- output checks, outside the timed region ------------------------
    ctx.tr.on = false
    if (ctx.failed == 0) {
      try wl.verify(ctx)
      catch { case e: Throwable => e.printStackTrace(); ctx.fail(s"verify threw $e") }
    }
    val attempted = math.max(1, ctx.attempted)
    println(f"[e2e] ops_failed_ratio       ${ctx.failed.toDouble / attempted}%.4f ratio " +
      s"(${ctx.failed} of $attempted)")
    println(s"[check] ${if (ctx.failed == 0) "PASS" else "FAIL"} " +
      s"attempted=$attempted failed=${ctx.failed}")
    phase("checks")
    stopSession(ctx)
    phase("stop")

    val metrics = result.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val oracle = wl.oracleJson
    Files.writeString(Paths.get(s"$work/result.json"),
      s"""{"correct": ${ctx.failed == 0}, "attempted": $attempted, "failed": ${ctx.failed}, """ +
        s""""metrics": $metrics, "oracle": $oracle}""")
    System.exit(0)
  }

  private def writeTrace(ctx: Ctx, at: Attribution, path: String,
                         layers: Seq[(String, Double, String)]): Unit = {
    val q = graft.model.JsonUtil.quote _
    val spans = ctx.tr.spans.map { s =>
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "start_ms": ${s.startMs}, """ +
        s""""end_ms": ${s.endMs}, "dur_s": ${fmt(s.durS)}, "self_s": ${fmt(ctx.tr.selfS(s))}, """ +
        s""""read_bytes": ${s.readBytes}, """ +
        s""""jobs": [${at.ownJobs(s).map(_.id).mkString(",")}]}"""
    }
    val jobs = ctx.jobs.snapshot().map { j =>
      val s = j.stats
      s"""{"id": ${j.id}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "tasks": ${s.tasks}, """ +
        s""""cpu_s": ${fmt(s.cpuNs / 1e9)}, "run_s": ${fmt(s.runMs / 1e3)}, "gc_s": ${fmt(s.gcMs / 1e3)}, """ +
        s""""shuffle_bytes": ${s.shuffleBytes}, """ +
        s""""spill_bytes": ${s.spillBytes}, "output_bytes": ${s.outBytes}}"""
    }
    val layerJson = layers.map { case (n, v, u) =>
      s"""${q(n)}: {"value": ${fmt(v)}, "unit": ${q(u)}}""" }
    Files.writeString(Paths.get(path),
      s"""{"run_id": ${q(ctx.tr.runId)}, "layers": {${layerJson.mkString(", ")}},\n""" +
        s""""spans": [\n${spans.mkString(",\n")}\n],\n"jobs": [\n${jobs.mkString(",\n")}\n]}\n""")
  }
}
