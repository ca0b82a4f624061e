package graft.crawl

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** Crash-anywhere resume (T2, the reference's ZooKeeper `{batch}/{step}`
  * gate): a driver that dies after ANY commit must, resumed by a fresh
  * pipeline, end in the state of the uninterrupted crawl — the same
  * frontier rows, every `hostdb/b<i>`, the same URL-seen set — with each
  * (batch, stage) committed exactly once. A 3-batch crawl with
  * `compactEvery = 2` commits a delta, an inline compaction and a delta
  * again, so every commit kind is a crash point.
  */
class ResumeMatrixSpec extends AnyFunSuite {
  import spark.implicits._
  import ResumeMatrixSpec.Result

  private val webCfg = WebConfig(numHosts = 3, pagesPerHost = 8, fanout = 3,
    imagesPerPage = 1, maxDelayMs = 50, crawlDelayMs = 10L)
  private val depth = 3

  private def crawl(root: Path): CrawlPipeline = {
    val p = new CrawlPipeline(spark, root.toString, webCfg, numBuckets = 2,
      compactEvery = 2)
    p.runBatches(depth, topN = 12, maxPerHost = 4)
    p
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Copy `from` to `to`, re-rooting the commits' absolute paths. */
  private def copyRoot(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toSeq.sortBy(_.getNameCount).foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else if (f.getParent.getFileName.toString == "_commits" &&
          f.toString.endsWith(".json"))
        Files.writeString(t,
          Files.readString(f).replace(from.toString, to.toString))
      else Files.copy(f, t)
    } finally s.close()
  }

  private def paths(c: Commit): Seq[String] =
    c.frontierPath +: c.deltas

  private def resultOf(p: CrawlPipeline, root: Path): Result = {
    val rows = p.frontierState().collect()
    def show(v: Any): String = v match {
      case a: Array[Byte] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }
    // avgScore is a double average, so it is compared within rounding
    val hostdb = (1 to depth).map { i =>
      Some(root.resolve(s"hostdb/b$i")).filter(Files.isDirectory(_))
        .map { dir =>
          val hs = spark.read.parquet(dir.toString).as[HostRow].collect()
            .sortBy(_.host).toSeq
          (hs.map(_.copy(avgScore = 0.0)), hs.map(_.avgScore))
        }
    }
    Result(
      rows.map(_.productIterator.map(show).mkString("|")).sorted.toSeq,
      rows.map(_.urlHash).toSet,
      hostdb,
      p.log.commits().groupBy(c => (c.batchId, c.stage))
        .map { case (k, cs) => k -> cs.size })
  }

  private def differences(want: Result, got: Result): Seq[String] = {
    val hostdbSame = want.hostdb.zip(got.hostdb).forall {
      case (Some((wr, ws)), Some((gr, gs))) =>
        wr == gr && ws.zip(gs).forall { case (a, b) =>
          math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
        }
      case (w, g) => w == g
    }
    Seq(
      (want.frontier == got.frontier) -> "frontier rows",
      (want.seen == got.seen) -> "URL-seen set",
      hostdbSame -> s"hostdb tables (present: ${
        got.hostdb.map(_.isDefined).mkString(",")})",
      (want.steps == got.steps) -> s"commits per (batch, stage): ${
        (want.steps.toSet diff got.steps.toSet).map(_._1) ++
          (got.steps.toSet diff want.steps.toSet).map(_._1)}"
    ).collect { case (false, what) => what }
  }

  test("a crash after any commit resumes to the uninterrupted crawl") {
    val base = Files.createTempDirectory("resume-matrix")
    try {
      val refRoot = base.resolve("ref")
      val ref = crawl(refRoot)
      val commits = ref.log.commits()
      val want = resultOf(ref, refRoot)
      // the fixture bites: every batch fetched, and the chain held a
      // delta, an inline compaction and a delta again
      assert(commits.count(c => c.stage == "fetch" && c.rowCount > 0) ===
        depth)
      assert(commits.filter(_.stage == "updatedb")
        .map(c => c.metrics.contains("compacted")) === Seq(false, true, false))
      assert(want.steps.values.forall(_ == 1))
      // the seen-set is the frontier's keys: no URL-seen sidecar is written
      assert(!Files.exists(refRoot.resolve("blooms")))

      def resume(k: Int): Seq[String] = {
        val root = base.resolve(s"crash-$k")
        copyRoot(refRoot, root)
        // the crash: commits after k never happened, and neither did the
        // writes they name (a table, snapshot or delta no kept commit
        // names)
        val (kept, lost) = commits.splitAt(k + 1)
        val keptPaths = kept.flatMap(paths).toSet
        lost.foreach { c =>
          Files.delete(root.resolve(f"_commits/${c.seq}%06d.json"))
          paths(c).filterNot(keptPaths)
            .foreach(p => deleteTree(Paths.get(p.replace(refRoot.toString,
              root.toString))))
        }
        val got = resultOf(crawl(root), root)
        CommitLog.releaseProcessLock(root.toString)
        deleteTree(root)
        val boundary = (commits(k) +: lost.take(1))
          .map(c => s"${c.batchId}/${c.stage}").mkString(" -> ")
        differences(want, got).map(d => s"crash at $boundary: $d")
      }
      // each resume owns its root, so a few run at once: the tiny
      // crawl's jobs leave most local cores idle
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val failures =
        try {
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          Await.result(Future.traverse(commits.indices.toVector)(k => Future(resume(k))),
            Duration(10, "min")).flatten
        } finally pool.shutdown()
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally {
      CommitLog.releaseProcessLock(base.resolve("ref").toString)
      deleteTree(base)
    }
  }
}

object ResumeMatrixSpec {
  /** Everything a resumed crawl must reproduce, as comparable values. */
  private final case class Result(frontier: Seq[String], seen: Set[Long],
      hostdb: Seq[Option[(Seq[HostRow], Seq[Double])]],
      steps: Map[(String, String), Int])
}
