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
  protected def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty("graft.sentinel")))
          .getOrElse("job"))
    }
    def sentinel(tag: String): Unit = {
      sc.setLocalProperty("graft.sentinel", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
    }
    def drainUntil(tag: String): Int = {
      var jobs = 0
      var next = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (next != tag) {
        assert(next != null, s"sentinel $tag never reached the listener")
        if (next == "job") jobs += 1
        next = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      jobs
    }
    sc.addSparkListener(listener)
    try {
      sentinel("open"); drainUntil("open")
      body
      sentinel("close"); drainUntil("close")
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
