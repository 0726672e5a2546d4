package graft.runner

import java.nio.file.Files

/** Commit-log coverage: concurrent writers, a lost publish race, a
  * publish into a pruned version number, and a crashed writer's temp
  * file. Lives in package graft.runner so the race tests can reach the
  * `beforePublish` seam.
  */
class CheckpointLogSpec extends graft.SparkSpec {

  private def newDir(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath + "/cp"

  test("three concurrent writers x three partitions: no row lost") {
    val dir = newDir("ckpt-writers")
    val stores = (0 until 3).map(_ => new CheckpointStore(spark, dir))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = stores.zipWithIndex.map { case (st, i) =>
      Future {
        (0 until 3).foreach { j =>
          val p = f"w$i%d-p$j%d"
          st.markProcessing(Seq(p), "v1")
          st.markDone(p, success = (i + j) % 2 == 0, "v1", "{}")
        }
      }
    }
    Await.result(Future.sequence(fs), 5.minutes)
    val rows = stores.head.readAll().collect().map(c => c.part_id -> c).toMap
    assert(rows.size == 9, s"rows lost: ${rows.keys.toSeq.sorted}")
    for (i <- 0 until 3; j <- 0 until 3) {
      val c = rows(f"w$i%d-p$j%d")
      assert(c.status == (if ((i + j) % 2 == 0) "SUCCESS" else "FAILED"))
      assert(c.attempts == 1)
    }
  }

  test("a lost race re-applies: no row lost, attempts bumped once") {
    val dir = newDir("ckpt-race")
    val rival = new CheckpointStore(spark, dir)
    rival.markProcessing(Seq("mine"), "v1") // attempts 1
    var publishes = 0
    // the first publish is beaten by a rival commit landing after the read
    val loser = new CheckpointStore(spark, dir) {
      override protected def beforePublish(): Unit = {
        publishes += 1
        if (publishes == 1) rival.markDone("theirs", success = true, "v1", "{}")
      }
    }
    loser.markProcessing(Seq("mine"), "v1")
    assert(publishes == 2, "the loser did not retry exactly once")
    val rows = loser.readAll().collect().map(c => c.part_id -> c).toMap
    assert(rows.keySet == Set("mine", "theirs"), s"a row was dropped: ${rows.keySet}")
    assert(rows("mine").status == "PROCESSING" && rows("mine").attempts == 2)
    assert(rows("theirs").status == "SUCCESS")
  }

  test("a writer whose target version was published and pruned re-applies") {
    val dir = newDir("ckpt-stale")
    val rival = new CheckpointStore(spark, dir)
    rival.markProcessing(Seq("mine"), "v1") // version 1, attempts 1
    var publishes = 0
    // while the writer holds base 1, rivals commit past the kept snapshots,
    // so version 2 is published and pruned again before the writer claims it
    val stale = new CheckpointStore(spark, dir) {
      override protected def beforePublish(): Unit = {
        publishes += 1
        if (publishes == 1) {
          (0 until 10).foreach(i => rival.markDone(s"theirs$i", success = true, "v1", "{}"))
          assert(!new java.io.File(s"$dir/_log/2").exists(), "version 2 was not pruned")
        }
      }
    }
    stale.markProcessing(Seq("mine"), "v1")
    assert(publishes == 2, "the stale writer did not retry exactly once")
    val rows = stale.readAll().collect().map(c => c.part_id -> c).toMap
    assert(rows.keySet == Set("mine") ++ (0 until 10).map(i => s"theirs$i"),
      s"a row was dropped: ${rows.keySet}")
    assert(rows("mine").status == "PROCESSING" && rows("mine").attempts == 2)
  }

  test("crashed writer's temp file is hidden, then swept by next commit") {
    val dir = newDir("ckpt-crash")
    val store = new CheckpointStore(spark, dir)
    store.markProcessing(Seq("p0"), "v1")
    // a writer that died after writing its snapshot but before publishing
    val orphan = new java.io.File(s"$dir/_log/.tmp-deadbeef")
    Files.writeString(orphan.toPath,
      """{"part_id":"ghost","status":"SUCCESS","attempts":1,""" +
        """"rule_version":"v1","metrics_json":"{}","updated_at":0}""" + "\n")
    assert(store.readAll().collect().map(_.part_id).toSeq == Seq("p0"))
    assert(store.pending(Seq("p0", "ghost"), "v1") == Seq("p0", "ghost"))
    assert(orphan.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    store.markDone("p0", success = true, "v1", "{}")
    assert(!orphan.exists(), "stale temp file not swept")
    val rows = store.readAll().collect()
    assert(rows.map(c => (c.part_id, c.status)).toSeq == Seq(("p0", "SUCCESS")))
  }

  test("old snapshots are pruned; the table survives many commits") {
    val dir = newDir("ckpt-prune")
    val store = new CheckpointStore(spark, dir)
    (0 until 20).foreach(i => store.markProcessing(Seq(f"p$i%02d"), "v1"))
    val versions = new java.io.File(s"$dir/_log").list().filterNot(_.startsWith("."))
    assert(versions.length <= 8, s"versions kept: ${versions.sorted.mkString(",")}")
    assert(store.readAll().collect().length == 20)
  }
}
