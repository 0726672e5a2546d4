package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-7 optimization harness (guide §1): NOT part of the frozen driver
  * contract. Two modes, both over `SPARK_GRAFT_SF_DIR`:
  *
  *   sbt "runMain graft.BenchExtra explain <outDir> [q1,q2,...]"
  *     — dump .explain("formatted") for each named query (default: all)
  *       to <outDir>/<query>.txt without executing them.
  *
  *   sbt "runMain graft.BenchExtra time <n> [q1,q2,...]"
  *     — run each named query `n` times through the noop sink (same
  *       evaluation the frozen Bench uses) and print the min wall seconds
  *       and process CPU-seconds over the attempts that succeeded (FAILED
  *       when none did), the failed count, then every attempt's wall
  *       (failed ones marked `!`). Session config matches Bench.session
  *       exactly so timings are comparable.
  */
object BenchExtra {

  private def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.sql.codegen.maxFields", "400")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def selfCpuSec(): Double = {
    val self = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    val f = self.substring(self.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / 100.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mode = args.headOption.getOrElse("time")
    val spark = session(cpus)

    def named(sel: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
      val only = sel.map(_.split(",").map(_.trim).toSet)
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
    }

    mode match {
      case "explain" =>
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        for ((name, fn) <- named(args.lift(2))) {
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/$name.txt"),
              plan.getBytes("UTF-8"))
            println(s"[explain] $name -> $outDir/$name.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
          }
        }
      case "time" =>
        val n = args.lift(1).map(_.toInt).getOrElse(2)
        for ((name, fn) <- named(args.lift(2))) {
          spark.sparkContext.setJobDescription(name)
          // (wall s, cpu s, succeeded): a failed attempt is no sample
          val attempts = (1 to n).map { _ =>
            val c0 = selfCpuSec(); val t0 = System.nanoTime()
            val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[time] $name FAILED: ${e.getMessage}"); false
            }
            ((System.nanoTime() - t0) / 1e9, selfCpuSec() - c0, ok)
          }
          spark.sparkContext.setJobDescription(null)
          val failed = attempts.count(!_._3)
          val walls = attempts.map(a => f"${a._1}%.2f" + (if (a._3) "" else "!")).mkString("[", ",", "]")
          val best = attempts.filter(_._3).minByOption(_._1)
            .fold("FAILED")(b => f"min=${b._1}%6.2fs cpu=${b._2}%6.1fs")
          println(f"[time] $name%-28s $best failed=$failed  $walls")
        }
      case "probestream" =>
        // phase-level timing of one stateful replay (windowed drift shape)
        import org.apache.spark.sql.functions._
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        def ph[T](label: String)(body: => T): T = {
          val t0 = System.nanoTime()
          val r = body
          println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
          r
        }
        for (_ <- 1 to args.lift(1).map(_.toInt).getOrElse(2)) {
          val events = spark.read.parquet(s"$sfDir/events.parquet")
          val ref = ph("ref histogram") {
            graft.checks.Drift.histogram(events, "value", 0.0, 256.0, 8) }
          val rows = ph("collect+sort") {
            events.select("event_id", "ts", "user_id", "event_type", "value", "props")
              .as[graft.streaming.EventRow].collect()
              .sortBy(r => (r.ts.getTime, r.event_id))
          }
          val maxTs = rows.last.ts.getTime
          val input = MemoryStream[graft.streaming.EventRow]
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          spark.conf.set("spark.sql.shuffle.partitions", "1")
          val q = ph("start query") {
            graft.streaming.StreamingValidation.windowedDrift(
                input.toDF(), "value", "ts", "1 day", "1 hour", ref)
              .writeStream.format("memory").queryName("probe_sink")
              .outputMode("append").start()
          }
          try {
            val slice = math.max(1, math.ceil(rows.length / 4.0).toInt)
            var i = 0
            rows.grouped(slice).foreach { b =>
              i += 1
              ph(s"batch $i (${b.length} rows)") { input.addData(b.toSeq); q.processAllAvailable() }
              Option(q.lastProgress).foreach(p =>
                println(s"[probe]   durations: ${p.durationMs}"))
            }
            (1 to 2).foreach { s =>
              ph(s"sentinel $s") {
                input.addData(Seq(graft.streaming.EventRow(-s.toLong,
                  new java.sql.Timestamp(maxTs + s * 180000000L), -1L, "__sentinel", 0.0, "")))
                q.processAllAvailable()
              }
            }
          } finally { q.stop(); spark.conf.set("spark.sql.shuffle.partitions", prev) }
          ph("sink read + noop") {
            spark.table("probe_sink")
              .filter(col("window_start") <= lit(new java.sql.Timestamp(maxTs)))
              .select(col("window_start"), floor(col("ks") * lit(1e4)).cast("long").as("ks_1e4"))
              .orderBy("window_start")
              .write.format("noop").mode("overwrite").save()
          }
          spark.catalog.dropTempView("probe_sink")
        }
      case "probesim" =>
        import org.apache.spark.sql.functions._
        import graft.ops.Dedup
        def ph(label: String)(body: => Unit): Unit = {
          val t0 = System.nanoTime()
          body
          println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
        }
        def noop(d: DataFrame): Unit =
          d.write.format("noop").mode("overwrite").save()
        for (_ <- 1 to args.lift(1).map(_.toInt).getOrElse(3)) {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          ph("simhash sigs (md5)") {
            noop(Dedup.simhash(docs, "doc_id", "text", Dedup.TokenHash.Md5Hash60, 60)) }
          ph("full simhash pairs") {
            noop(Dedup.nearDuplicatesSimhashSigs(docs, "doc_id", "text",
              maxBucket = Int.MaxValue, tokenHash = Dedup.TokenHash.Md5Hash60, bits = 60)) }
        }
      case "probedup" =>
        import org.apache.spark.sql.functions._
        import graft.ops.Dedup
        def ph(label: String)(body: => Unit): Unit = {
          val t0 = System.nanoTime()
          body
          println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
        }
        def noop(d: DataFrame): Unit =
          d.write.format("noop").mode("overwrite").save()
        for (_ <- 1 to args.lift(1).map(_.toInt).getOrElse(2)) {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          ph("sigs") { noop(Dedup.minhashSignatures(docs, "doc_id", "text", 64, 3)) }
          val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 64, 3)
          ph("cands") { noop(Dedup.minhashLshCandidateIds(sigs, "doc_id", 32)) }
          ph("full nearDuplicatesExact") {
            noop(Dedup.nearDuplicatesExact(docs, "doc_id", "text", 0.6, 64, 32)) }
          ph("full + clusters") {
            noop(Dedup.duplicateClusters(
              Dedup.nearDuplicatesExact(docs, "doc_id", "text", 0.6, 64, 32))) }
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
