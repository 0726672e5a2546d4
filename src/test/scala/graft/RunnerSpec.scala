package graft

import java.nio.file.Files
import graft.runner._
import graft.synth.{Mutations, Synth}

class RunnerSpec extends SparkSpec {

  lazy val ref = Synth.clipsRef(spark, numParts = 3, rowsPerPart = 30, maxAudioMs = 500).cache()
  lazy val dim = Synth.dimCodec(spark)

  test("clean run → SUCCESS across all suites") {
    val rep = new ValidationSession(spark).run(ref.toDF(), dim.toDF(), Some(ref.toDF()))
    assert(rep.status == "SUCCESS")
    assert(rep.suites.map(_.suite) ==
      Seq("predicate", "uniqueness", "referential", "reconciliation", "rowinvariant", "drift"))
    assert(rep.rowsFailedTotal == 0L)
  }

  test("mutated run → FAILED, collect-all evaluates every suite") {
    val cand = Mutations.unknownCodec(Mutations.duplicateFirst(ref, "p0000"), "p0001")
    val rep = new ValidationSession(spark).run(cand.toDF(), dim.toDF(), Some(ref.toDF()))
    assert(rep.status == "FAILED")
    val byName = rep.outcomes.map(o => o.checkName -> o.status).toMap
    assert(byName("clip_id_uniqueness") == "FAIL")
    assert(byName("codec_fk") == "FAIL")
    assert(byName("sr_hz_domain") == "PASS")
    // collect-all: no SKIPs
    assert(!rep.outcomes.exists(_.status == "SKIP"))
  }

  test("fail-fast skips downstream suites after first failure (runner.py:205)") {
    val cand = Mutations.dropRequired(ref, "p0000") // predicate suite fails first
    val rep = new ValidationSession(spark, ValidationConfig(failFast = true))
      .run(cand.toDF(), dim.toDF(), Some(ref.toDF()))
    assert(rep.suites.head.failed)
    assert(rep.suites.tail.forall(_.outcomes.forall(_.status == "SKIP")))
  }

  test("resumable run: SUCCESS partitions skipped on re-run; FAILED retried") {
    val dir = Files.createTempDirectory("ckpt").toFile.getAbsolutePath + "/cp"
    val store = new CheckpointStore(spark, dir)
    val cand = Mutations.durOutOfRange(ref, "p0001") // p0001 fails, p0000/p0002 pass
    val sess = new ValidationSession(spark)
    val first = sess.runResumable(cand.toDF(), dim.toDF(), store, Some(ref.toDF()))
    assert(first.keySet == Set("p0000", "p0001", "p0002"))
    assert(first("p0001").status == "FAILED")
    assert(first("p0000").status == "SUCCESS")
    // second run: only the failed partition is pending
    val second = sess.runResumable(cand.toDF(), dim.toDF(), store, Some(ref.toDF()))
    assert(second.keySet == Set("p0001"))
    // attempts incremented
    val cp = store.readAll().collect().map(c => c.part_id -> c).toMap
    assert(cp("p0001").attempts == 2)
    assert(cp("p0000").attempts == 1)
    assert(cp("p0000").status == "SUCCESS")
    // rule-version bump invalidates checkpoints
    val v2 = new ValidationSession(spark, ValidationConfig(ruleVersion = "v2"))
    val third = v2.runResumable(ref.toDF(), dim.toDF(), store, None)
    assert(third.keySet == Set("p0000", "p0001", "p0002"))
    assert(third.values.forall(_.status == "SUCCESS"))
  }

  test("two concurrent checkpoint writers lose no rows (commit log)") {
    val dir = Files.createTempDirectory("ckpt4").toFile.getAbsolutePath + "/cp"
    // two independent stores on the same table — the two-spark-submit
    // scenario; without the create-if-absent publish their read-modify-
    // write sequences interleave and drop each other's rows
    val a = new CheckpointStore(spark, dir)
    val b = new CheckpointStore(spark, dir)
    val partsA = (0 until 4).map(i => f"a$i%02d")
    val partsB = (0 until 4).map(i => f"b$i%02d")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(partsA.foreach { p =>
      a.markProcessing(Seq(p), "v1"); a.markDone(p, success = true, "v1", "{}") })
    val fb = Future(partsB.foreach { p =>
      b.markProcessing(Seq(p), "v1"); b.markDone(p, success = false, "v1", "{}") })
    Await.result(Future.sequence(Seq(fa, fb)), 5.minutes)
    val rows = a.readAll().collect().map(c => c.part_id -> c.status).toMap
    assert(rows.size == 8, s"rows lost: ${rows.keys.toSeq.sorted}")
    partsA.foreach(p => assert(rows(p) == "SUCCESS"))
    partsB.foreach(p => assert(rows(p) == "FAILED"))
  }

  test("HTML report renders the snapshot diff (added/removed/changed rows)") {
    val cand = Mutations.editTranscript(
      Mutations.extraRow(
        Mutations.dropRow(ref, "p0000"), "p0001"), "p0002")
    val rep = new ValidationSession(spark).run(cand.toDF(), dim.toDF(), Some(ref.toDF()))
    val diff = graft.checks.Reconcile.diff(ref.toDF(), cand.toDF(),
      Seq("part_id", "clip_id"), Seq("codec", "dur_ms", "transcript"))
    val path = Files.createTempDirectory("html").toString + "/report.html"
    new ResultStore(spark, Files.createTempDirectory("rs").toString)
      .writeReportHtml("r", rep, path, snapshotDiff = Some(diff))
    val html = Files.readString(java.nio.file.Paths.get(path))
    assert(html.contains("Snapshot diff"))
    assert(html.contains("removed") && html.contains("added") && html.contains("changed"))
    assert(html.contains("clip_999999000001")) // the inserted extra row's key
    assert(html.contains("EDITED"))            // the changed transcript value
  }

  test("checkpoint metrics recorded per partition") {
    val dir = Files.createTempDirectory("ckpt2").toFile.getAbsolutePath + "/cp"
    val store = new CheckpointStore(spark, dir)
    new ValidationSession(spark).runResumable(ref.toDF(), dim.toDF(), store, None)
    val rows = store.readAll().collect()
    assert(rows.length == 3)
    assert(rows.forall(_.metrics_json.contains("\"checks_failed\":0")))
    assert(rows.forall(_.rule_version == "v1"))
  }
}
