package graft.crawl

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.annotation.JsonIgnoreProperties
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Atomic per-batch commit log — the Iceberg snapshot contract, emulated
  * (SURVEY.md §7.1: no Iceberg jar ships in this sandbox; the layout +
  * commit protocol mirror Iceberg's snapshot/manifest semantics so a real
  * catalog is a drop-in in production).
  *
  * One JSON file per commit, written temp-then-rename (atomic on POSIX).
  * A commit records `(seq, batchId, stage, status, rowCounts, snapshot
  * paths, per-partition lineage, metrics)` — the reference's ZooKeeper step
  * gate (reference: crawl/NutchConstant.java:648-830 preparStartJob,
  * :1007-1076 preparEndJob) collapses into "is (batch, stage) committed?".
  * Resume = skip every committed (batch, stage), read back the table its
  * commit names, continue from the last committed frontier state (north
  * rule: resumes exactly from checkpoint with per-partition lineage +
  * metrics).
  *
  * Logs written before the URL-seen bloom sidecars were retired carry a
  * `bloomPaths` field; it is ignored on read, so those roots still resume.
  */
@JsonIgnoreProperties(Array("bloomPaths"))
final case class Commit(
    seq: Long,
    batchId: String,
    stage: String, // inject | generate | fetch | parse | updatedb | ...
    status: String, // complete (only complete commits are ever written)
    // the table this stage wrote; the base snapshot for state commits
    frontierPath: String,
    rowCount: Long,
    partitionCounts: Map[String, Long], // per-bucket lineage
    metrics: Map[String, Double],
    virtualTime: Long,
    // merge-on-read lineage (Iceberg MoR contract): the frontier state is
    // base ∖ delta-keys ∪ deltas (latest delta wins per key). Empty for
    // full snapshots; bounded by the compaction interval otherwise.
    deltaPaths: Seq[String] = Nil) {
  def deltas: Seq[String] = Option(deltaPaths).getOrElse(Nil)
}

final class CommitLog(root: String) {
  private val dir = new File(root, "_commits")
  dir.mkdirs()
  // single-driver guard (the reference arbitrates concurrent crawlers
  // through a ZooKeeper gate with stale-lock takeover,
  // crawl/NutchConstant.java:648-830; nextSeq()+rename here assumes one
  // driver per root — two drivers would race the sequence). An OS file
  // lock makes that assumption ENFORCED: a second driver PROCESS on the
  // same root fails fast instead of corrupting the log, and a crashed
  // driver's lock releases automatically with its process (the flock
  // analog of ZK session-expiry takeover). CommitLogs within one JVM
  // share the lock — one driver, many pipeline objects, is the
  // supported shape (tests, resume).
  CommitLog.acquireProcessLock(dir)
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  // parsed commits by file name: a commit file is renamed into place once
  // and never rewritten, so each is parsed once per CommitLog
  private val parsed = scala.collection.mutable.Map[String, Commit]()

  /** The committed log in seq order. The directory is listed on every
    * call, so commits appended through another CommitLog on this root are
    * seen; only names not seen before are parsed, and names no longer
    * listed are dropped.
    */
  def commits(): Seq[Commit] = {
    val names = Option(dir.list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".json")).sorted.toSeq
    val listed = names.toSet
    parsed.synchronized {
      parsed.filterInPlace((name, _) => listed(name))
      names.map(name => parsed.getOrElseUpdate(name,
        mapper.readValue(new File(dir, name), classOf[Commit])))
    }
  }

  def last(): Option[Commit] = commits().lastOption

  def nextSeq(): Long = last().map(_.seq + 1).getOrElse(0L)

  /** Atomic append: write temp file, fsync-free rename into place. */
  def append(c: Commit): Commit = {
    val tmp = Files.createTempFile(dir.toPath, s"commit-${c.seq}", ".tmp")
    mapper.writerWithDefaultPrettyPrinter().writeValue(tmp.toFile, c)
    Files.move(tmp, Paths.get(dir.getPath, f"${c.seq}%06d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    c
  }
}

object CommitLog {
  // one OS lock per commit root per JVM, shared by every CommitLog on
  // that root (a second lock attempt in the same JVM would throw
  // OverlappingFileLockException — same-process sharing is intended)
  private val processLocks =
    scala.collection.mutable.Map[String, java.nio.channels.FileLock]()

  private def acquireProcessLock(dir: File): Unit = {
    val key = dir.getCanonicalPath
    processLocks.synchronized {
      if (!processLocks.contains(key)) {
        val ch = java.nio.channels.FileChannel.open(
          new File(dir, "_driver.lock").toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val lock = ch.tryLock()
        if (lock == null) {
          ch.close()
          throw new IllegalStateException(
            s"another driver process holds the commit log at $key — " +
              "one driver per crawl root (reference: ZK crawler gate)")
        }
        processLocks(key) = lock
      }
    }
  }

  /** Release this process's lock on a crawl root (tests / multi-root
    * tools; a normal driver just holds it for the process lifetime, and
    * the OS releases it on exit or crash).
    */
  def releaseProcessLock(root: String): Unit = {
    val key = new File(root, "_commits").getCanonicalPath
    processLocks.synchronized {
      processLocks.remove(key).foreach { l =>
        l.release(); l.channel().close()
      }
    }
  }
}
