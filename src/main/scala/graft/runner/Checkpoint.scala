package graft.runner

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Checkpoint

/** Checkpoint table with the reference's batch-status FSM semantics
  * (`tech.etl_batch_status`, `sql/initdb/tech_tables.sql:24-41`;
  * claim/update logic `src/app2/db/batch.py:5-78`; resume filter
  * `etl_validation/discovery.py:203-223`): a restarted run skips partitions
  * already in SUCCESS, retries FAILED/NEW, and bumps `attempts`.
  *
  * Storage is a versioned snapshot log, the Delta Lake / Iceberg metadata
  * swap at table-row scale: `<path>/_log/<n>` holds the whole table after
  * commit `n` as JSON lines, one [[Checkpoint]] per partition. A commit
  * reads the newest snapshot, applies its change, writes the result to a
  * hidden temp file and publishes it as `<n+1>` with an atomic
  * create-if-absent (a hard link on the local file system, a
  * non-overwriting rename elsewhere). Of two writers racing for `<n+1>`
  * exactly one wins; the loser re-reads and re-applies its change, so
  * concurrent runners never drop each other's rows (the
  * `FOR UPDATE SKIP LOCKED` analogue, `batch.py:45-78`) and no lock is
  * held. The table is one row per partition, so reads and commits are
  * driver-side file operations: no Spark job.
  *
  * Old snapshots are pruned, which frees their version numbers: a writer
  * that read `<v>` and stalled while `<v+1>` was published and pruned
  * can still create `<v+1>`. So a snapshot's first line lists the ids of
  * the last [[CheckpointStore.CommitWindow]] commits, its own last, and a
  * writer counts its commit only once the newest snapshot names its id at
  * the version it published; otherwise it removes its file and retries.
  *
  * Parquet checkpoint directories of earlier versions are not migrated.
  */
class CheckpointStore(spark: SparkSession, path: String) {
  import spark.implicits._
  import CheckpointStore._

  private val logDir = new Path(path, "_log")
  // raw: a ChecksumFileSystem's `.crc` sidecar would not follow a hard link
  private lazy val fs: FileSystem =
    logDir.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  private def listing() = if (fs.exists(logDir)) fs.listStatus(logDir).toSeq else Nil
  private def version(p: Path) = p.getName.toLongOption // temp names start with '.'

  /** The newest snapshot (version 0: empty). A snapshot pruned between
    * the listing and the open is re-listed.
    */
  private def latest(): Snapshot =
    listing().flatMap(s => version(s.getPath)).maxOption.fold(Snapshot(0L, Nil, Map.empty)) { v =>
      try {
        val in = fs.open(new Path(logDir, v.toString))
        try {
          val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
          val commits = mapper.readValue(lines.next(), classOf[Header]).commits
          Snapshot(v, commits, lines.map(fromJson).map(c => c.part_id -> c).toMap)
        } finally in.close()
      } catch { case _: java.io.FileNotFoundException => latest() }
    }

  /** Test seam: after a commit read its base snapshot, before it publishes. */
  protected def beforePublish(): Unit = ()

  /** Upserts the rows `change` derives from the current table as one
    * commit, re-reading and re-applying after every lost race.
    */
  private def commit(change: Map[String, Checkpoint] => Seq[Checkpoint]): Unit = {
    var lost = 0
    var done = false
    while (!done) {
      val base = latest()
      val rows = change(base.table)
      if (rows.isEmpty) done = true
      else {
        val cutoff = System.currentTimeMillis() - TempExpiryMs
        listing().filter(s => s.getPath.getName.startsWith(".tmp-") && s.getModificationTime < cutoff)
          .foreach(s => fs.delete(s.getPath, false)) // crashed writers' temp files
        val id = java.util.UUID.randomUUID().toString
        val tmp = new Path(logDir, s".tmp-$id")
        val out = fs.create(tmp, false)
        try {
          out.write((mapper.writeValueAsString(Header((base.commits :+ id).takeRight(CommitWindow))) + "\n")
            .getBytes("UTF-8"))
          (base.table ++ rows.map(c => c.part_id -> c)).values.toSeq.sortBy(_.part_id)
            .foreach(c => out.write((toJson(c) + "\n").getBytes("UTF-8")))
        } finally out.close()
        beforePublish()
        val n = base.version + 1
        done = publish(tmp, new Path(logDir, n.toString)) && landed(n, id)
        if (done) listing().foreach(s => // prune old snapshots
          if (version(s.getPath).exists(_ <= n - KeepVersions)) fs.delete(s.getPath, false))
        else {
          lost += 1
          if (lost >= MaxLostRaces) throw new java.io.IOException(
            s"checkpoint table $path: no commit after $lost lost races")
        }
      }
    }
  }

  /** Whether the log grew from this writer's snapshot `n` (commit `id`).
    * If not, `n` was a pruned version number that a newer snapshot had
    * already passed, and the stale file is removed: no reader takes it,
    * as a newer version exists. Past the commit window the newest
    * snapshot cannot tell, and the commit fails loudly.
    */
  private def landed(n: Long, id: String): Boolean = {
    val head = latest()
    val at = head.commits.size - 1 - (head.version - n) // index of version n
    (if (at >= 0 && at < head.commits.size) Some(head.commits(at.toInt)) else None) match {
      case Some(`id`) => true
      case Some(_) => fs.delete(new Path(logDir, n.toString), false); false
      case None => throw new java.io.IOException(
        s"checkpoint table $path: cannot tell whether commit $n landed (log is at ${head.version})")
    }
  }

  /** Atomic create-if-absent of `target`; false when another writer
    * published it first (or swept this writer's stalled temp file).
    */
  private def publish(tmp: Path, target: Path): Boolean =
    try fs match {
      case local: RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(local.pathToFile(target).toPath, local.pathToFile(tmp).toPath)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.NoSuchFileException => false
        }
      case other => other.rename(tmp, target)
    } finally fs.delete(tmp, false)

  /** The whole table as a local relation: collecting it runs no Spark job. */
  def readAll(): Dataset[Checkpoint] = spark.createDataset(latest().table.values.toSeq.sortBy(_.part_id))

  /** Upsert by part_id (last writer wins) — MERGE INTO semantics. */
  def upsert(rows: Seq[Checkpoint]): Unit = commit(_ => rows)

  def markProcessing(partIds: Seq[String], ruleVersion: String): Unit = {
    val now = System.currentTimeMillis()
    commit(table => partIds.map { p =>
      val prev = table.get(p)
      Checkpoint(p, "PROCESSING", prev.map(_.attempts).getOrElse(0) + 1,
        ruleVersion, prev.map(_.metrics_json).getOrElse("{}"), now)
    })
  }

  def markDone(partId: String, success: Boolean, ruleVersion: String,
               metricsJson: String): Unit =
    markDoneBulk(Seq((partId, success, metricsJson)), ruleVersion)

  /** Bulk variant: one commit for N partition verdicts. */
  def markDoneBulk(results: Seq[(String, Boolean, String)], ruleVersion: String): Unit = {
    val now = System.currentTimeMillis()
    commit(table => results.map { case (p, success, metrics) =>
      Checkpoint(p, if (success) "SUCCESS" else "FAILED",
        table.get(p).map(_.attempts).getOrElse(1), ruleVersion, metrics, now)
    })
  }

  /** Resume filter: partitions still needing validation under this rule
    * version (discovery.py:203-223 `only_unprocessed` semantics — SUCCESS
    * under the SAME rule version is skipped; a rule-version bump
    * invalidates prior checkpoints).
    */
  def pending(allParts: Seq[String], ruleVersion: String): Seq[String] = {
    val table = latest().table
    allParts.filterNot(p => table.get(p).exists(c =>
      c.status == "SUCCESS" && c.rule_version == ruleVersion))
  }
}

object CheckpointStore {
  private val MaxLostRaces = 1000
  /** Age after which an unpublished temp file is a crashed writer's. */
  private val TempExpiryMs = 10 * 60 * 1000L
  /** Snapshots kept; older ones are pruned after each commit. */
  private val KeepVersions = 8
  /** Commit ids a snapshot lists: how many commits may land between a
    * writer's publish and its check before the check cannot tell.
    */
  private val CommitWindow = 64

  private final case class Snapshot(version: Long, commits: Seq[String], table: Map[String, Checkpoint])
  /** A snapshot's first line: ids of the commits up to it, oldest first. */
  private final case class Header(commits: Seq[String])

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  private def toJson(c: Checkpoint): String = mapper.writeValueAsString(c)
  private def fromJson(line: String): Checkpoint = mapper.readValue(line, classOf[Checkpoint])
}
