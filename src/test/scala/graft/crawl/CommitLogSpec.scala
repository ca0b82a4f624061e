package graft.crawl

import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

/** T2 commit-log semantics + the single-driver lock (the reference's ZK
  * crawler gate, NutchConstant.java:648-830, collapsed to an OS flock:
  * second process fails fast, crash releases automatically).
  */
class CommitLogSpec extends AnyFunSuite {

  test("driver lock: held at the OS level while a CommitLog exists; " +
    "same-JVM logs share; release frees it") {
    val root = Files.createTempDirectory("commitlock").toString
    val log = new CommitLog(root)
    log.append(Commit(0L, "b1", "inject", "complete", "p", 1L,
      Map("0" -> 1L), Map.empty, 0L))

    // an independent channel (what a second driver process would open)
    // sees the lock as HELD: same-JVM prohe throws Overlapping, a real
    // second process would get null from tryLock — either way, denied
    val probe = FileChannel.open(
      new java.io.File(new java.io.File(root, "_commits"),
        "_driver.lock").toPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    intercept[java.nio.channels.OverlappingFileLockException] {
      probe.tryLock()
    }

    // a SECOND CommitLog in the same JVM (resume path, multiple pipeline
    // objects over one root) shares the process lock instead of failing
    val log2 = new CommitLog(root)
    assert(log2.last().map(_.batchId).contains("b1"))

    // after release the probe channel can take the lock — proving the
    // original hold was a real OS lock, not just registry state
    CommitLog.releaseProcessLock(root)
    val taken = probe.tryLock()
    assert(taken != null)
    taken.release(); probe.close()
  }

  test("a commit written with the retired bloomPaths field still parses") {
    val root = Files.createTempDirectory("commitlegacy")
    val dir = Files.createDirectories(root.resolve("_commits"))
    // a delta-state updatedb commit as logs wrote it while URL-seen bloom
    // sidecars rode every frontier table
    Files.writeString(dir.resolve("000003.json"),
      """{"seq":3,"batchId":"b1","stage":"updatedb","status":"complete",
        |"frontierPath":"/r/frontier/snapshot-0","rowCount":42,
        |"partitionCounts":{"0":40,"1":2},"metrics":{"mergeWallMs":12.5},
        |"virtualTime":7,"deltaPaths":["/r/frontier/delta-3"],
        |"bloomPaths":["/r/blooms/0","/r/blooms/3"]}""".stripMargin)
    val log = new CommitLog(root.toString)
    try {
      assert(log.commits() === Seq(Commit(3L, "b1", "updatedb", "complete",
        "/r/frontier/snapshot-0", 42L, Map("0" -> 40L, "1" -> 2L),
        Map("mergeWallMs" -> 12.5), 7L, Seq("/r/frontier/delta-3"))))
      // resume continues the sequence after the legacy commit
      assert(log.nextSeq() === 4L)
    } finally CommitLog.releaseProcessLock(root.toString)
  }

  test("two logs on one root each see the other's appends in seq order") {
    val root = Files.createTempDirectory("committwo").toString
    def commit(seq: Long) = Commit(seq, s"b$seq", "generate", "complete",
      s"/r/batches/b$seq/fetchlist", seq, Map("all" -> seq), Map.empty, seq)
    val a = new CommitLog(root)
    val b = new CommitLog(root)
    try {
      a.append(commit(0L))
      assert(b.commits() === Seq(commit(0L)))
      b.append(commit(1L))
      // `a` parsed seq 0 already; seq 1 is new to it
      assert(a.commits() === Seq(commit(0L), commit(1L)))
      a.append(commit(2L))
      assert(b.commits() === Seq(commit(0L), commit(1L), commit(2L)))
      assert(a.commits() === b.commits())
      assert(b.nextSeq() === 3L)
    } finally CommitLog.releaseProcessLock(root)
  }
}
