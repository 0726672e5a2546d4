package graft.runner

import java.nio.file.Files
import graft.model.CheckOutcome

/** Checkpoint commits, result appends and the summary CSV on a local
  * directory write their files through java.nio: no call starts an OS
  * process.
  */
class LocalStoreFilesSpec extends graft.SparkSpec {

  private val report = ValidationReport(Seq(
    SuiteReport("predicate", Seq(
      CheckOutcome("a", "OutOfRange", "ERROR", "FAIL", 3L, observedValue = Some("3"))), 12L)))

  test("checkpoint commits and result appends start no OS process") {
    val dir = Files.createTempDirectory("local-stores").toFile.getAbsolutePath
    val store = new CheckpointStore(spark, s"$dir/cp")
    val results = new ResultStore(spark, s"$dir/results")
    val todo = store.pending(Seq("p0", "p1"), "v1")
    val procs = processStartsDuring {
      store.markProcessing(todo, "v1")
      store.markDoneBulk(todo.map(p => (p, p == "p0", "{}")), "v1")
      todo.foreach(p => results.writeReport("r", p, report, 1L))
      results.writeSummaryCsv(s"$dir/summary")
    }
    assert(procs == 0, s"$procs process(es) started by store bookkeeping")
    assert(store.readAll().collect().map(c => (c.part_id, c.status)).toSeq ==
      Seq(("p0", "SUCCESS"), ("p1", "FAILED")))
    assert(results.checkResults().collect().map(_.part_id).sorted.toSeq == Seq("p0", "p1"))
    assert(new java.io.File(s"$dir/results/validation_run").list().forall(!_.startsWith(".")),
      "a temp file was left behind")
    assert(new java.io.File(s"$dir/summary").list().toSeq == Seq("part-00000.csv"))
  }
}
