package graft.crawl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** ScoringFilter extension point (reference scoring/ScoringFilters.java):
  * Default reproduces the fork's hardcoded flows (pinned by the parity
  * suite); a custom filter demonstrably changes inject, outlink
  * contribution, and the updatedb existing-row score — end-to-end through
  * real crawl batches.
  */
class ScoringSpec extends AnyFunSuite {
  import spark.implicits._

  private val cfg = WebConfig(numHosts = 4, pagesPerHost = 10, fanout = 3,
    imagesPerPage = 1)

  test("Opic filter: rediscovered rows accumulate contributions; " +
    "Default keeps stored scores") {
    val now = 1700000000000L
    def run(scoringFilter: ScoringFilter): Map[String, Float] = {
      val dir = Files.createTempDirectory("scoring").toString
      val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
        scoring = scoringFilter)
      p.runBatches(depth = 2, topN = 30, maxPerHost = 10)
      p.frontierState().collect().map(r => r.url -> r.score).toMap
    }
    val defaultScores = run(ScoringFilter.Default)
    val opicScores = run(ScoringFilter.Opic)

    // same frontier either way (scoring changes priorities, not the set
    // at this depth/topN where everything eligible gets fetched)
    assert(defaultScores.keySet === opicScores.keySet)
    // Default: an injected seed keeps its 1.0 forever
    val seed = defaultScores.keys.find(_.endsWith("/page0.html")).get
    assert(defaultScores(seed) === 1.0f)
    // Opic: pages rediscovered by crawled inlinks accumulated contrib
    val grew = opicScores.count { case (u, s) => s > defaultScores(u) }
    assert(grew > 0,
      s"no row accumulated score under Opic (of ${opicScores.size})")
    // and nothing shrank — contributions only add
    assert(opicScores.forall { case (u, s) => s >= defaultScores(u) - 1e-6f })
  }

  test("fetch in-queue order follows generatorSortValue " +
    "(the one Column generate ranks by)") {
    // a REVERSING sort value, overridden only as the Column: generate
    // ranks score-ASC and the fetch queue must serve the same order —
    // under Default (identity) this is the raw score-desc order pinned by
    // the parity suite
    val reversed = new ScoringFilter {
      def injectedScore(url: String, metaScore: Option[Float]): Float =
        metaScore.getOrElse(1.0f)
      def outlinkContribution(srcUrl: String, srcScore: Float,
          outlinkCount: Int): Float = srcScore / math.max(1, outlinkCount)
      def newRowScore(url: String, contrib: Float,
          customScore: Float): Float = contrib
      override def generatorSortValue(score: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column = -score
    }
    // single lane + a wall gap so fetchStart strictly increases in queue
    // order; batch 2 has score variety (seed 1.0 vs discovered contribs)
    val qcfg = cfg.copy(crawlDelayMs = 10L, maxConcurrent = 1)
    val dir = Files.createTempDirectory("scoring-order").toString
    val p = new CrawlPipeline(spark, dir, qcfg, numBuckets = 4,
      scoring = reversed)
    p.runBatches(depth = 2, topN = 30, maxPerHost = 10)
    val fetched = spark.read.parquet(s"$dir/batches/b2/fetched")
      .select("host", "url", "fetchStart", "srcScore")
      .as[(String, String, Long, Float)].collect()
    assert(fetched.nonEmpty)
    // queue order = sort value DESC = raw score ASC under the reversing
    // filter. Robots-denied rows share their successor's start slot, so
    // assert monotonicity ACROSS politeness slots (scores within a slot
    // are a contiguous run of the queue): every later slot's min score
    // >= every earlier slot's max score.
    var varied = false
    fetched.groupBy(_._1).foreach { case (host, rows) =>
      val slots = rows.groupBy(_._3).toSeq.sortBy(_._1)
        .map(_._2.map(_._4).toSeq)
      slots.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b.min >= a.max,
            s"queue for $host served score ${b.min} after ${a.max} — " +
              "order does not follow the sort value")
        case _ =>
      }
      if (rows.map(_._4).distinct.length > 1) varied = true
    }
    assert(varied, "no host queue had score variety — assertion vacuous")
  }

  test("custom injectedScore and outlinkContribution flow through") {
    val dir = Files.createTempDirectory("scoring-inj").toString
    val boost = new ScoringFilter {
      def injectedScore(url: String, metaScore: Option[Float]): Float =
        metaScore.getOrElse(4.0f)
      def outlinkContribution(srcUrl: String, srcScore: Float,
          outlinkCount: Int): Float = 0.125f // flat, not srcScore/n
      def newRowScore(url: String, contrib: Float,
          customScore: Float): Float = contrib
    }
    val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
      scoring = boost)
    p.inject(Seq(
      "http://www.test-0.example/page0.html",
      "http://www.test-1.example/page0.html\tnutch.score=9"), 1700000000000L)
    val afterInject = p.frontierState().collect()
    assert(afterInject.find(_.url.contains("test-0")).get.score === 4.0f)
    assert(afterInject.find(_.url.contains("test-1")).get.score === 9.0f)

    p.runBatches(depth = 1, topN = 10, maxPerHost = 10)
    val discovered = p.frontierState().collect()
      .filter(r => r.distance == 1)
    assert(discovered.nonEmpty)
    assert(discovered.forall(_.score === 0.125f))
  }
}
