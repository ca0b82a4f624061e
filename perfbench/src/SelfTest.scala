package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.crawl.{CommitLog, CrawlPipeline, WebConfig}

/** The benchmark's own test: its checks pass on the program's real outputs
  * and fail when an expected digest is wrong or an invariant is broken.
  */
object SelfTest {
  def run(spark: SparkSession, bench: Path, work: Path): String = {
    val cases = scala.collection.mutable.LinkedHashMap[String, Boolean]()

    val spec = CrawlSpec.FetchHeavy.copy(
      web = WebConfig(numHosts = 6, pagesPerHost = 12, imagesPerPage = 1),
      seedHosts = 3, depth = 2, topN = 100)
    cases("wrong URL-seen-set digest is the only failure of a pass") =
      new CrawlWorkload(spark, work.resolve("selftest-pass"), spec,
        PerfBench.DefaultSeed, Some("0" * 64), digestSeen = true)
        .pass().failures.map(_.takeWhile(_ != ' ')) == Seq("URL-seen-set")

    val root = work.resolve("selftest-crawl")
    try {
      val p = new CrawlPipeline(spark, root.toString, spec.web, numBuckets = 4)
      p.inject(spec.seedLines(PerfBench.DefaultSeed), CrawlSpec.StartTime)
      p.runBatches(spec.depth, spec.topN, spec.maxPerHost, CrawlSpec.StartTime)
      val commits = p.log.commits()
      val frontier = p.frontierState()
      val hostdb = spark.read.parquet(
        commits.filter(_.stage == "hostdb").last.frontierPath)
      cases("crawl invariants hold on the real frontier") =
        CrawlSpec.invariants(frontier, commits, hostdb).isEmpty
      cases("duplicate urlHash is caught") =
        CrawlSpec.invariants(frontier.union(frontier.limit(1)), commits, hostdb)
          .exists(_.startsWith("urlHash not unique"))
      val skewed = commits.map(c =>
        if (c.stage == "fetch") c.copy(rowCount = c.rowCount + 1) else c)
      cases("fetched != generated is caught") =
        CrawlSpec.invariants(frontier, skewed, hostdb)
          .exists(_.startsWith("fetched"))
      cases("status histogram mismatch is caught") =
        CrawlSpec.invariants(frontier.limit(frontier.count().toInt - 1),
          commits, hostdb).exists(_.startsWith("hostdb"))
    } finally {
      Workload.releaseCaches(spark)
      CommitLog.releaseProcessLock(root.toString)
      Workload.deleteTree(root)
    }

    val data = bench.resolve("data").toString
    val pins = Files.readAllLines(bench.resolve("expected/corpus_digests.tsv"))
      .asScala.map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    val q = Seq("q_host_agg")
    cases("pinned corpus digest matches") =
      new CorpusWorkload(spark, data, 1L, pins, 1, q).pass().failures.isEmpty
    cases("wrong expected digest is caught") =
      new CorpusWorkload(spark, data, 1L, pins.updated(q.head, "0" * 64), 1, q)
        .pass().failures.size == 1

    val ok = cases.values.forall(identity)
    cases.foreach { case (k, v) =>
      System.err.println(s"perfbench-selftest ${if (v) "PASS" else "FAIL"} $k")
    }
    s"""{"selftest": ${if (ok) "\"ok\"" else "\"fail\""}, "cases": ${cases.size}}"""
  }
}
