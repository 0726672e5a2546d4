package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-test-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started by `body`. Two sentinel jobs bracket it; the
    * listener bus delivers in order, so every job `body` started has been
    * seen once the closing sentinel has.
    */
  protected def jobsDuring(body: => Unit): Int = trackJobs(body)._1

  /** Ids of the Spark jobs `body` started that had not ended when it
    * returned. Spark posts a job's end before its action returns, so a job
    * an awaited action ran is never in the set.
    */
  protected def jobsRunningAfter(body: => Unit): Set[Int] = trackJobs(body)._2

  private def trackJobs(body: => Unit): (Int, Set[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    // (job id, "job" | sentinel tag on start, "end" on end)
    val seen = new java.util.concurrent.LinkedBlockingQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.sentinel"))).getOrElse("job"))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.put(e.jobId -> "end")
    }
    def sentinel(tag: String): Unit = {
      sc.setLocalProperty("graft.sentinel", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
    }
    var jobs = 0
    val running = scala.collection.mutable.Set[Int]()
    def drainUntil(tag: String): Unit = {
      var next = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (next == null || next._2 != tag) {
        assert(next != null, s"sentinel $tag never reached the listener")
        next match {
          case (id, "job") => jobs += 1; running += id
          case (id, "end") => running -= id
          case _ =>
        }
        next = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    sc.addSparkListener(listener)
    try {
      sentinel("open"); drainUntil("open")
      jobs = 0; running.clear()
      body
      sentinel("close"); drainUntil("close")
      (jobs, running.toSet)
    } finally sc.removeSparkListener(listener)
  }

  /** OS processes this JVM started while `body` ran, from a JFR recording
    * of `jdk.ProcessStart` events. Two kinds run on their own schedule and
    * are not counted: Spark's executor heartbeat runs `getconf PAGESIZE`
    * once per JVM whenever it first fires (that one-off runs before the
    * recording starts), and a `Cleaner` action removes a garbage-collected
    * session's artifact directory with `rm -rf` whenever GC gets to it.
    */
  protected def processStartsDuring(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = java.nio.file.Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      def byCleaner(e: jdk.jfr.consumer.RecordedEvent) = Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName == "jdk.internal.ref.CleanerImpl"))
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .count(e => e.getEventType.getName == "jdk.ProcessStart" && !byCleaner(e))
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }
}
