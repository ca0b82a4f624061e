package graft.crawl

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** Gates for the hostdb table (A3/J2), the politeness queue modes
  * (byDomain/byIP — reference fetcher.queue.mode / URLPartitioner), and
  * the fetch timelimit (T5).
  */
class HostDbSpec extends AnyFunSuite {
  import spark.implicits._

  private val webCfg = WebConfig(numHosts = 6, pagesPerHost = 15,
    fanout = 4, imagesPerPage = 2, maxDelayMs = 100, crawlDelayMs = 25L)

  test("hostdb stats match the simulator frontier; settings materialized") {
    val cfgs = graft.core.ConfigTrie.build(Seq(
      "http://www.test-1.example/" -> graft.core.SiteConfig(cfgId = 1,
        crawlDelayMs = 150L, maxConcurrent = 2)))
    val dir = Files.createTempDirectory("hostdb").toString
    val p = new CrawlPipeline(spark, dir, webCfg, numBuckets = 4,
      configs = cfgs)
    p.runBatches(2, 40, 8)
    val s = new Simulator(webCfg, configs = cfgs)
    s.runBatches(2, 40, 8)

    val hd = spark.read.parquet(s"$dir/hostdb/b2").as[HostRow]
      .collect().map(h => h.host -> h).toMap
    val simByHost = s.frontier.values.groupBy(r => graft.core.Urls.host(r.url))
    assert(hd.keySet === simByHost.keySet)
    simByHost.foreach { case (host, rows) =>
      val h = hd(host)
      assert(h.pages === rows.size, s"pages for $host")
      assert(h.fetched === rows.count(r =>
        r.status == graft.core.CrawlStatus.Fetched ||
          r.status == graft.core.CrawlStatus.NotModified), s"fetched $host")
      assert(h.gone === rows.count(
        _.status == graft.core.CrawlStatus.Gone), s"gone $host")
    }
    // effective politeness settings materialized from the trie
    assert(hd("www.test-1.example").crawlDelayMs === 150L)
    assert(hd("www.test-1.example").maxConcurrent === 2)
    assert(hd("www.test-2.example").crawlDelayMs === webCfg.crawlDelayMs)
    // the commit log gained hostdb stages (fetch reads the latest)
    assert(p.log.commits().count(_.stage == "hostdb") === 2)

    // A3 link-host histograms (reference HostDbUpdateReducer.java:46-72):
    // recompute the expected (srcHost, dstHost) counts from the batch's
    // parse output and pin both directions per host
    val parsed = spark.read.parquet(s"$dir/batches/b2/parsed")
      .as[ParsedPage].collect()
    val pairs = parsed.toSeq.flatMap(pp =>
      // keys is a Set — map through a Seq or identical (src,dst) pairs
      // from one page's multiple same-host links would collapse
      pp.outlinks.keys.toSeq.map(dst => (pp.host, graft.core.Urls.host(dst))))
    val outExp = pairs.groupBy(_._1).map { case (src, ps) =>
      src -> ps.groupBy(_._2).map { case (d, xs) => d -> xs.size.toLong }
    }
    val inExp = pairs.groupBy(_._2).map { case (dst, ps) =>
      dst -> ps.groupBy(_._1).map { case (sr, xs) => sr -> xs.size.toLong }
    }
    hd.foreach { case (host, h) =>
      assert(h.outLinkHosts === outExp.getOrElse(host, Map.empty),
        s"outLinkHosts for $host")
      assert(h.inLinkHosts === inExp.getOrElse(host, Map.empty),
        s"inLinkHosts for $host")
    }
    // the histograms are non-trivially populated (fanout links exist)
    assert(hd.values.exists(_.outLinkHosts.nonEmpty))
    assert(hd.values.exists(_.inLinkHosts.nonEmpty))
  }

  test("link histograms keep the top-K per host: links desc, then host asc") {
    // one hub host links out to K+10 hosts and K+10 hosts link into it;
    // 10 of each get more links than the rest, so the cut at K falls
    // inside a tie that only the host-name order decides
    val k = CrawlPipeline.HostLinkTopK
    val hub = "www.hub.example"
    val rnd = new scala.util.Random(7)
    val others = rnd.shuffle((0 until k + 10).map(i => s"h$i.example"))
    val outCounts = others.zipWithIndex.map { case (h, i) =>
      h -> (if (i < 10) 3L else 1L) }.toMap
    val inCounts = rnd.shuffle(others).zipWithIndex.map { case (h, i) =>
      h -> (if (i < 10) 2L else 1L) }.toMap
    def page(host: String, links: Seq[String]) =
      ParsedPage(0L, s"http://$host/", host, graft.core.FetchOutcome.Success,
        "text/html", null, links.map(_ -> "").toMap, "", null, 0, "", 1f,
        0, 0L, 0L, "b1")
    val pages = page(hub, outCounts.toSeq.flatMap { case (h, n) =>
      (0L until n).map(j => s"http://$h/p$j.html") }) +:
      inCounts.toSeq.map { case (h, n) =>
        page(h, (0L until n).map(j => s"http://$hub/from-$h-$j.html")) }
    val dir = Files.createTempDirectory("hostdb-topk").toString
    val p = new CrawlPipeline(spark, dir, webCfg, numBuckets = 4)
    val frontier = p.inject(Seq(s"http://$hub/"), 1700000000000L)
    val row = p.hostdb(frontier, "b1", 1700000000000L,
      spark.createDataset(pages)).collect().find(_.host == hub).get
    def topK(counts: Map[String, Long]): Map[String, Long] =
      counts.toSeq.sortBy { case (h, n) => (-n, h) }.take(k).toMap
    Seq(("outLinkHosts", row.outLinkHosts, outCounts),
      ("inLinkHosts", row.inLinkHosts, inCounts)).foreach {
      case (name, got, counts) =>
        assert(got.size === k, name)
        assert(got === topK(counts), name)
        // the tie bites: some single-link hosts are kept, some dropped,
        // and the kept ones are the smallest host names among them
        val singles = counts.collect { case (h, 1L) => h }.toSeq.sorted
        val kept = singles.filter(got.contains)
        assert(kept.nonEmpty && kept.size < singles.size, name)
        assert(kept === singles.take(kept.size), name)
    }
  }

  test("byDomain queue mode: subdomains share one politeness timeline") {
    // seed www + m subdomains of the same registered domain; in byDomain
    // mode they serialize on one queue — parity with the simulator in the
    // same mode, and the timelines actually differ from byHost mode
    def run(mode: String): (Set[String], Seq[(String, String, Long)]) = {
      val dir = Files.createTempDirectory(s"qmode-$mode").toString
      val p = new CrawlPipeline(spark, dir, webCfg, numBuckets = 4,
        queueMode = mode)
      val seeds = Seq(SyntheticWeb.seedUrl(0), SyntheticWeb.seedUrl(1),
        "http://m.test-0.example/page1.html", "http://m.test-1.example/page2.html")
      val now1 = 1700000000000L + 3600000L
      val f0 = p.inject(seeds, 1700000000000L)
      val list = p.generate(f0, "b1", now1, 40, 10)
      val fetched = p.fetch(list, "b1", now1)
      val order = fetched.select("batchId", "url", "fetchStart")
        .as[(String, String, Long)].collect().toSeq
        .sortBy { case (_, u, t) => (t, u) }
      (order.map(_._2).toSet, order)
    }
    val (urlsHost, orderHost) = run(QueueMode.ByHost)
    val (urlsDomain, orderDomain) = run(QueueMode.ByDomain)
    assert(urlsHost === urlsDomain) // same fetch set
    assert(orderHost !== orderDomain) // but different politeness timelines

    // simulator parity in byDomain mode
    val s = new Simulator(webCfg, queueMode = QueueMode.ByDomain)
    s.inject(Seq(SyntheticWeb.seedUrl(0), SyntheticWeb.seedUrl(1),
      "http://m.test-0.example/page1.html",
      "http://m.test-1.example/page2.html"), 1700000000000L)
    val now1 = 1700000000000L + 3600000L
    val list = s.generate(now1, 40, 10)
    s.fetchAndUpdate(list, "b1", now1)
    assert(orderDomain === s.fetchLog.toSeq)
    // byIP mode groups like byDomain under the synthetic resolver
    assert(QueueMode.keyOf(QueueMode.ByIP, "www.test-0.example") ===
      QueueMode.keyOf(QueueMode.ByIP, "m.test-0.example"))
  }

  test("fetch timelimit purges queues; purged rows re-generate next batch") {
    val cfg = webCfg.copy(numHosts = 2, pagesPerHost = 12,
      maxDelayMs = 50, crawlDelayMs = 100L)
    def run(tl: Long): (Long, Set[String]) = {
      val dir = Files.createTempDirectory(s"tl-$tl").toString
      val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
        fetchTimelimitMs = tl)
      p.runBatches(2, 40, 20)
      val s = new Simulator(cfg, fetchTimelimitMs = tl)
      s.runBatches(2, 40, 20)
      val rows = p.frontierState()
        .collect()
      assert(rows.map(_.url).toSet === s.seenSet, s"seen-set parity tl=$tl")
      s.frontier.foreach { case (url, r) =>
        val got = rows.find(_.url == url).get
        assert((got.status, got.fetchTime, got.retries) ===
          ((r.status, r.fetchTime, r.retries)), s"state parity $url tl=$tl")
      }
      val totalFetched = p.log.commits().filter(_.stage == "fetch")
        .map(_.rowCount).sum // batch 1 is seeds-only; the limit bites in b2
      (totalFetched,
        rows.filter(_.status != graft.core.CrawlStatus.Unfetched)
          .map(_.url).toSet)
    }
    val (nLimited, _) = run(300L) // tight budget: ~3 requests/host
    val (nFull, _) = run(-1L)
    assert(nLimited < nFull, s"timelimit did not bite: $nLimited vs $nFull")
  }
}
