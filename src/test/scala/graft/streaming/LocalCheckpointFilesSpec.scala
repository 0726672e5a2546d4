package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.col
import graft.model.{Check, RuleGroup, Severity}

/** The replay's java.nio checkpoint file manager: Spark's atomic-create
  * contract on `file:` paths, hand-off of other schemes to Spark's own
  * manager, and a replay that forks no process and leaves the session's
  * manager setting as it found it.
  */
class LocalCheckpointFilesSpec extends graft.SparkSpec {

  private def conf = new Configuration(spark.sparkContext.hadoopConfiguration)
  private def newDir(prefix: String) = Files.createTempDirectory(prefix)
  private def file(dir: java.nio.file.Path, names: String*) =
    new Path((s"file://$dir" +: names).mkString("/"))

  private def write(m: LocalCheckpointFiles, p: Path, text: String, overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: LocalCheckpointFiles, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("create without overwrite onto an existing file throws and keeps it") {
    val dir = newDir("ckpt-files")
    val m = new LocalCheckpointFiles(file(dir), conf)
    val p = file(dir, "0")
    write(m, p, "first")
    intercept[FileAlreadyExistsException](write(m, p, "second"))
    assert(read(m, p) == "first")
    assert(dir.toFile.list().toSeq == Seq("0"), "a temp file was left behind")
  }

  test("cancel leaves neither the temp file nor the target") {
    val dir = newDir("ckpt-cancel")
    val m = new LocalCheckpointFiles(file(dir), conf)
    val out = m.createAtomic(file(dir, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a closed-after-cancel stream publishes nothing
    assert(dir.toFile.list().isEmpty)
  }

  test("overwrite replaces the target") {
    val dir = newDir("ckpt-overwrite")
    val m = new LocalCheckpointFiles(file(dir), conf)
    val p = file(dir, "state.delta")
    write(m, p, "old")
    write(m, p, "new", overwrite = true)
    assert(read(m, p) == "new")
    assert(dir.toFile.list().toSeq == Seq("state.delta"))
  }

  test("list honours its filter; mkdirs, exists and delete act on the directory") {
    val dir = newDir("ckpt-list")
    val m = new LocalCheckpointFiles(file(dir), conf)
    val sub = file(dir, "offsets")
    m.mkdirs(sub)
    Seq("0", "1", "2.compact").foreach(n => write(m, new Path(sub, n), n))
    val numbered = m.list(sub, (p: Path) => p.getName.forall(_.isDigit))
    assert(numbered.map(_.getPath.getName).sorted.toSeq == Seq("0", "1"))
    assert(numbered.forall(s => s.isFile && s.getLen == 1))
    assert(m.list(sub).length == 3 && m.isLocal)
    m.delete(sub)
    assert(!m.exists(sub))
    m.delete(sub) // deleting what is gone is no error
  }

  test("a path of another scheme is handed to Spark's manager") {
    val c = conf
    c.set("fs.AbstractFileSystem.other.impl", classOf[OtherSchemeFs].getName)
    val dir = newDir("ckpt-other")
    val m = new LocalCheckpointFiles(new Path(s"other://$dir"), c)
    val renames = OtherSchemeFs.renames.get
    write(m, new Path(s"other://$dir/0"), "via FileContext")
    assert(OtherSchemeFs.renames.get > renames, "the write did not go through the other file system")
    assert(read(m, new Path(s"other://$dir/0")) == "via FileContext")
    assert(!m.isLocal)
  }

  private lazy val events =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
  private val negValue = Seq(
    Check("neg_value", RuleGroup.OutOfRange, Severity.Error, col("value") < 0))

  test("a window-count replay starts no OS process") {
    events.count()
    val procs = processStartsDuring {
      StreamReplay.eventsWindowCounts(spark, events, negValue).collect()
    }
    assert(procs == 0, s"$procs process(es) started by one replay")
  }

  test("a replay restores the checkpoint manager setting, unset or set") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val few = events.limit(40)
    spark.conf.unset(key)
    StreamReplay.eventsRowViolations(spark, few, negValue).collect()
    assert(spark.conf.getOption(key).isEmpty)
    val theirs = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    spark.conf.set(key, theirs)
    try {
      StreamReplay.eventsRowViolations(spark, few, negValue).collect()
      assert(spark.conf.getOption(key).contains(theirs))
    } finally spark.conf.unset(key)
  }
}

/** A local file system under the scheme `other:`, counting renames. */
class OtherSchemeFsImpl extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("other:///")
  override def getScheme: String = "other"
  override def rename(src: Path, dst: Path): Boolean = {
    OtherSchemeFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

/** The `FileContext` binding of [[OtherSchemeFsImpl]]. */
class OtherSchemeFs(uri: java.net.URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new OtherSchemeFsImpl, conf, "other", false)

object OtherSchemeFs {
  val renames = new java.util.concurrent.atomic.AtomicInteger(0)
}
