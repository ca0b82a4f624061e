package graft.crawl

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** North-rule gates: crawl ordering parity + URL-seen-set parity vs the
  * single-threaded simulator oracle under the same seed list and
  * politeness budget; payload invariants (decoded-pixel PSNR >= 40 dB for
  * lossy / exact for lossless, caption equality); resume-from-checkpoint.
  */
class CrawlParitySpec extends AnyFunSuite {
  import spark.implicits._

  private val webCfg = WebConfig(numHosts = 8, pagesPerHost = 20,
    fanout = 4, imagesPerPage = 2, maxDelayMs = 100, crawlDelayMs = 25L,
    maxConcurrent = 1)
  private val depth = 3
  private val topN = 60
  private val maxPerHost = 10

  private lazy val root: String = {
    val dir = Files.createTempDirectory("crawl-parity").toString
    val pipeline = new CrawlPipeline(spark, dir, webCfg, numBuckets = 8)
    pipeline.runBatches(depth, topN, maxPerHost)
    dir
  }

  private lazy val sim: Simulator = {
    val s = new Simulator(webCfg)
    s.runBatches(depth, topN, maxPerHost)
    s
  }

  test("URL-seen set parity with the simulator oracle") {
    val pipeline = new CrawlPipeline(spark, root, webCfg, numBuckets = 8)
    val sparkSeen = pipeline.frontierState()
      .select("url").as[String].collect().toSet
    val simSeen = sim.seenSet
    val missing = simSeen.diff(sparkSeen)
    val extra = sparkSeen.diff(simSeen)
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} extra=${extra.take(5)} " +
        s"(spark=${sparkSeen.size} sim=${simSeen.size})")
  }

  test("generate plans object-free with no per-site config " +
    "(columnar F1 cascade + WindowGroupLimit, no DeserializeToObject)") {
    val pipeline = new CrawlPipeline(spark, root, webCfg, numBuckets = 8)
    val plan = pipeline
      .fetchlistPlan(pipeline.frontierState(), "bX",
        1700000000000L, topN, maxPerHost)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"),
      s"frontier rows decoded to objects in generate:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-host cap did not plan as WindowGroupLimit:\n$plan")
  }

  test("columnar and typed eligibility cascades agree row-for-row") {
    // same trick as the merge parity: force the typed path with a config
    // trie that changes NOTHING (empty rules on an unrelated host), then
    // pin both forms to identical fetchlists over the same frontier
    val pipeline = new CrawlPipeline(spark, root, webCfg, numBuckets = 8)
    val noopTrie = graft.core.ConfigTrie.build(
      Seq("http://never-crawled.example/" -> graft.core.SiteConfig(cfgId = 9)))
    val typed = new CrawlPipeline(spark, root, webCfg, numBuckets = 8,
      configs = noopTrie)
    val now = 1700000000000L
    val frontier = pipeline.frontierState()
    val a = pipeline.fetchlistPlan(frontier, "bX", now, topN, maxPerHost)
      .collect().map(r => (r.url, r.fetchTime, r.fetchInterval)).sortBy(_._1)
    val b = typed.fetchlistPlan(typed.frontierState(), "bX", now, topN,
      maxPerHost)
      .collect().map(r => (r.url, r.fetchTime, r.fetchInterval)).sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }

  test("crawl ordering parity: per-batch (fetchStart, url) sequence matches") {
    val simOrder = sim.fetchLog.toSeq
    val sparkOrder = (1 to depth).flatMap { i =>
      val p = s"$root/batches/b$i/fetched"
      if (new java.io.File(p).exists())
        spark.read.parquet(p)
          .select("batchId", "url", "fetchStart")
          .as[(String, String, Long)].collect()
          .sortBy { case (_, u, t) => (t, u) }
      else Nil
    }
    assert(sparkOrder.size === simOrder.size,
      s"spark=${sparkOrder.size} sim=${simOrder.size}")
    sparkOrder.zip(simOrder).zipWithIndex.foreach {
      case ((sp, si), idx) =>
        assert(sp === si, s"diverges at index $idx")
    }
  }

  test("frontier schedule state parity (status/fetchTime/retries/score)") {
    val pipeline = new CrawlPipeline(spark, root, webCfg, numBuckets = 8)
    val sparkRows = pipeline.frontierState()
      .collect().map(r => r.url ->
        (r.status, r.fetchTime, r.retries, r.distance, r.score)).toMap
    sim.frontier.foreach { case (url, r) =>
      val got = sparkRows.get(url)
      assert(got.isDefined, s"missing $url")
      assert(got.get === ((r.status, r.fetchTime, r.retries, r.distance,
        r.score)), s"state mismatch for $url")
    }
  }

  test("payload invariants: PSNR >= 40 dB (jpeg) / exact (png) + captions") {
    val rows = (1 to depth).flatMap { i =>
      val p = s"$root/batches/b$i/payload"
      if (new java.io.File(p).exists())
        spark.read.parquet(p).as[PayloadRow].collect()
      else Nil
    }
    assert(rows.nonEmpty, "no payloads fetched")
    rows.foreach { p =>
      val (w, h, fmt, caption, seed) = SyntheticWeb.imageSpec(p.image_id, webCfg)
      assert(p.caption === caption, s"caption mismatch for ${p.image_id}")
      assert(p.fmt === fmt)
      assert(p.w === w && p.h === h)
      val refPx = ImageCodec.pixels(seed, w, h)
      val (gotPx, gw, gh) = ImageCodec.decodePixels(p.bytes)
      assert(gw === w && gh === h)
      if (fmt == "png") {
        assert(gotPx.sameElements(refPx), s"png not lossless ${p.image_id}")
      } else {
        val psnr = ImageCodec.psnr(refPx, gotPx)
        assert(psnr >= 40.0, s"PSNR $psnr < 40 dB for ${p.image_id}")
      }
      assert(p.phash === ImageCodec.phash(refPx, w, h))
    }
  }

  test("payload bytes are sourced from fetch output (content flow, C11)") {
    // every payload row's bytes must be bit-identical to the content
    // column of the fetch stage's output for the same url — the payload
    // stage never re-synthesizes bytes — and length must equal the
    // declared Content-Length (the ImageParser truncation gate)
    (1 to depth).foreach { i =>
      val fdir = s"$root/batches/b$i/fetched"
      val pdir = s"$root/batches/b$i/payload"
      if (new java.io.File(pdir).exists()) {
        val fetched = spark.read.parquet(fdir)
          .select("url", "content", "contentLength")
          .as[(String, Array[Byte], Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        spark.read.parquet(pdir).as[PayloadRow].collect().foreach { p =>
          val (content, clen) = fetched(p.image_id)
          assert(p.bytes.sameElements(content), s"bytes differ ${p.image_id}")
          assert(p.bytes.length.toLong === clen)
        }
      }
    }
  }

  test("truncated transfers are fetched but contribute no outlinks") {
    val truncated = (1 to depth).flatMap { i =>
      val pdir = s"$root/batches/b$i/parsed"
      if (new java.io.File(pdir).exists())
        spark.read.parquet(pdir)
          .filter(col("parseStatus") === Parse.StatusTruncated)
          .select("url").as[String].collect()
      else Nil
    }
    assert(truncated.nonEmpty, "no truncated transfer exercised")
    // a truncated page was still a fetch Success (the reference marks
    // parse FAILED_TRUNCATED, not fetch failure) and its outlinks are
    // empty — verified structurally by the seen-set parity test, since
    // the simulator runs the same Parse.page
  }

  test("per-site config overrides hold parity (delay/lanes/caps/score/depth)") {
    val cfgs = graft.core.ConfigTrie.build(Seq(
      // host 1: slow + parallel politeness
      "http://www.test-1.example/" -> graft.core.SiteConfig(cfgId = 1,
        crawlDelayMs = 200L, maxConcurrent = 3),
      // host 2: tight per-host cap and custom score for discoveries
      "http://www.test-2.example/" -> graft.core.SiteConfig(cfgId = 2,
        maxPerHost = 2, customScore = 5.0f, customIntervalSec = 3600),
      // host 3 subtree: never crawl /private/
      "http://www.test-3.example/" -> graft.core.SiteConfig(cfgId = 3,
        subFilters = Seq(graft.core.FilterRule(accept = false,
          ".*/private/.*".r)))))
    val dir = Files.createTempDirectory("crawl-cfg").toString
    val cfg = webCfg.copy(numHosts = 5, pagesPerHost = 15)
    val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4, configs = cfgs)
    p.runBatches(3, 40, 6)
    val s = new Simulator(cfg, configs = cfgs)
    s.runBatches(3, 40, 6)
    val sparkRows = p.frontierState().collect()
      .map(r => r.url -> (r.status, r.fetchTime, r.score, r.fetchInterval))
      .toMap
    assert(sparkRows.keySet === s.seenSet)
    s.frontier.foreach { case (url, r) =>
      assert(sparkRows(url) === ((r.status, r.fetchTime, r.score,
        r.interval)), s"mismatch for $url")
    }
    // the overrides actually bit: custom score visible on host-2 discoveries
    val host2New = s.frontier.values.filter(r =>
      r.url.contains("test-2") && r.distance > 0)
    assert(host2New.exists(_.score == 5.0f))
  }

  test("resume: killed-after-fetch batch completes identically from commit log") {
    val dir = Files.createTempDirectory("crawl-resume").toString
    val cfg = webCfg.copy(numHosts = 4, pagesPerHost = 10)
    // run 1: stop after batch 1's fetch (simulate crash before updatedb)
    val p1 = new CrawlPipeline(spark, dir, cfg, numBuckets = 4)
    val now1 = 1700000000000L + 3600000L
    val f0 = p1.inject(SyntheticWeb.seeds(cfg), 1700000000000L)
    val list = p1.generate(f0, "b1", now1, 30, 5)
    p1.fetch(list, "b1", now1) // crash here: no updatedb commit
    // run 2: fresh pipeline resumes and completes 2 batches
    val p2 = new CrawlPipeline(spark, dir, cfg, numBuckets = 4)
    p2.runBatches(2, 30, 5)
    // oracle: uninterrupted 2-batch run
    val s = new Simulator(cfg)
    s.runBatches(2, 30, 5)
    val seen = p2.frontierState().select("url").as[String]
      .collect().toSet
    assert(seen === s.seenSet)
    // commit log recorded per-partition lineage + metrics for every stage
    val commits = p2.log.commits()
    assert(commits.exists(c => c.stage == "fetch" &&
      c.metrics.contains("virtualPagesPerSec")))
    assert(commits.filter(_.stage == "updatedb")
      .forall(_.partitionCounts.nonEmpty))
    // T2 step gate: the run-1 fetch of b1 was REUSED, not re-run —
    // exactly one fetch commit for b1 across both runs
    assert(commits.count(c => c.batchId == "b1" && c.stage == "fetch") === 1)
  }

  test("F6 rewrite redirects /private/ discoveries; C3 reprUrl on perm redirects") {
    val cfgs = graft.core.ConfigTrie.build(Seq(
      "http://www.test-0.example/" -> graft.core.SiteConfig(cfgId = 9,
        rewrite = Some(("/private/page(\\d+)\\.html", "/page$1.html")))))
    val cfg = webCfg.copy(numHosts = 4, pagesPerHost = 15)
    val dir = Files.createTempDirectory("crawl-rewrite").toString
    val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4, configs = cfgs)
    p.runBatches(3, 50, 8)
    val s = new Simulator(cfg, configs = cfgs)
    s.runBatches(3, 50, 8)
    val rows = p.frontierState()
      .collect()
    assert(rows.map(_.url).toSet === s.seenSet)
    // rewrite bit: no /private/ URL of host 0 ever entered the frontier
    assert(!rows.exists(r => r.url.contains("test-0") &&
      r.url.contains("/private/")))
    // reprUrl parity on permanently redirected rows
    val simRepr = s.frontier.values.filter(_.reprUrl.nonEmpty)
      .map(r => r.url -> r.reprUrl).toMap
    val sparkRepr = rows.filter(r => r.reprUrl != null && r.reprUrl.nonEmpty)
      .map(r => r.url -> r.reprUrl).toMap
    assert(sparkRepr === simRepr)
    assert(simRepr.nonEmpty, "no permanent redirects exercised")
  }

  test("re-crawl with adaptive schedule: refetch + NotModified parity (typed merge)") {
    // 30-min interval with 1-h batch ticks => rows refetch in later
    // batches; unchanged signatures drive the NotModified path and the
    // adaptive interval growth — exercising the typed merge and the
    // re-crawl state machine, which single-pass crawls never reach.
    // The fixed schedule runs too: the shared parity crawl (30-day
    // interval) never refetches, so this is its only re-crawl case.
    Seq(false, true).foreach { adaptive =>
      val sched = graft.core.ScheduleConfig(defaultIntervalSec = 1800,
        adaptive = adaptive)
      val cfg = webCfg.copy(numHosts = 4, pagesPerHost = 8)
      val dir = Files.createTempDirectory(s"crawl-recrawl-$adaptive").toString
      val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
        scheduleCfg = sched)
      p.runBatches(4, 40, 8)
      val s = new Simulator(cfg, scheduleCfg = sched)
      s.runBatches(4, 40, 8)
      val rows = p.frontierState()
        .collect().map(r => r.url ->
          (r.status, r.fetchTime, r.fetchInterval, r.retries)).toMap
      assert(rows.keySet === s.seenSet)
      s.frontier.foreach { case (url, r) =>
        assert(rows(url) === ((r.status, r.fetchTime, r.interval, r.retries)),
          s"mismatch for $url (adaptive=$adaptive)")
      }
      // the NotModified path actually fired
      assert(s.frontier.values.exists(_.status ==
        graft.core.CrawlStatus.NotModified))
    }
  }

  /** Every full-snapshot commit's partition counts (observed on its
    * write pass) equal the per-bucket row counts of its files; `stage`
    * must be among the commits checked.
    */
  private def assertSnapshotCountsMatchFiles(p: CrawlPipeline,
      stage: String): Unit = {
    val full = p.log.commits().filter(c => c.deltas.isEmpty &&
      Set("inject", "updatedb", "compact").contains(c.stage))
    assert(full.exists(_.stage == stage), s"no full $stage snapshot")
    full.foreach { c =>
      val actual = spark.read.parquet(c.frontierPath)
        .groupBy(col("bucket")).count().as[(Int, Long)].collect()
        .map { case (b, n) => b.toString -> n }.toMap
      assert(c.partitionCounts === actual,
        s"${c.stage} seq=${c.seq}: observed counts drifted from files")
    }
  }

  test("MoR delta chain + compaction: state identical to per-batch snapshots") {
    // compactEvery=2 over 4 batches exercises delta-commit, compacting
    // merge, and the view resolution (base ∖ delta-keys ∪ latest delta)
    val cfg = webCfg.copy(numHosts = 5, pagesPerHost = 12)
    def run(every: Int): (Set[(String, Int, Long, Float, Int)], Int) = {
      val dir = Files.createTempDirectory(s"crawl-mor-$every").toString
      val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
        compactEvery = every)
      p.runBatches(4, 40, 8)
      assertSnapshotCountsMatchFiles(p, "updatedb")
      val deltaCommits = p.log.commits()
        .count(c => c.stage == "updatedb" && c.deltas.nonEmpty)
      (p.frontierState().collect()
        .map(r => (r.url, r.status, r.fetchTime, r.score, r.distance)).toSet,
        deltaCommits)
    }
    val (morState, morDeltas) = run(every = 2)
    val (fullState, fullDeltas) = run(every = 1) // compact every batch
    assert(morState === fullState)
    assert(morDeltas > 0, "delta path never exercised")
    assert(fullDeltas === 0, "every=1 must always compact")
    // and the simulator agrees
    val s = new Simulator(cfg)
    s.runBatches(4, 40, 8)
    assert(morState.map(_._1) === s.seenSet)
    // explicit compaction folds the chain into one full snapshot
    val dir = Files.createTempDirectory("crawl-mor-compact").toString
    val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
      compactEvery = 99)
    p.runBatches(3, 40, 8)
    assert(p.lastState().get.deltas.nonEmpty)
    val before = p.frontierState().collect()
      .map(r => (r.url, r.status, r.fetchTime)).toSet
    p.compact(now = 1700000000000L + 99 * 3600000L)
    assert(p.lastState().get.deltas.isEmpty)
    assert(p.lastState().get.stage === "compact")
    assertSnapshotCountsMatchFiles(p, "compact")
    val after = p.frontierState().collect()
      .map(r => (r.url, r.status, r.fetchTime)).toSet
    assert(after === before)
  }

  test("exchange-free minor compaction: state identical to the exchange path") {
    // noExchangeMinBytes=0 forces the scan-parallel (no base exchange)
    // compaction writer at test scale; majorEvery disabled so every
    // compaction takes the minor path. State must equal the exchange run.
    val cfg = webCfg.copy(numHosts = 5, pagesPerHost = 12)
    def run(minBytes: Long): Set[(String, Int, Long, Float, Int)] = {
      val dir = Files.createTempDirectory(s"crawl-noex-$minBytes").toString
      val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
        compactEvery = 2, majorEvery = 0, noExchangeMinBytes = minBytes)
      p.runBatches(4, 40, 8)
      p.compact(now = 1700000000000L + 99 * 3600000L)
      // the two-observation (base write + delta append) lineage counts of
      // the no-exchange writer must also match the files exactly
      val c = p.lastState().get
      val actual = spark.read.parquet(c.frontierPath)
        .groupBy(col("bucket")).count().as[(Int, Long)].collect()
        .map { case (b, n) => b.toString -> n }.toMap
      assert(c.partitionCounts === actual,
        s"minBytes=$minBytes: write-pass counts drifted from files")
      p.frontierState().collect()
        .map(r => (r.url, r.status, r.fetchTime, r.score, r.distance)).toSet
    }
    val noExchange = run(0L)
    val exchange = run(Long.MaxValue)
    assert(noExchange === exchange)
  }

  test("updatedb frontier probe and merge plan with NO shuffle above the " +
    "frontier scan and no broadcast exchange") {
    // read the base snapshot from FILES directly: runBatches leaves the
    // merged view persisted, and frontierState()'s identical plan would
    // cache-hit into InMemoryTableScan leaves — this test pins the
    // cold-plan shape a 10^10-row frontier (never cacheable) would get.
    // Both pipelines: Opic adds the columnar existing-score step.
    val sc = spark.sparkContext
    val side = sc.broadcast(CrawlPipeline.BatchSide(
      Map(11L -> Outcome(11L, graft.core.FetchOutcome.Success,
        Array[Byte](1, 2), "bX", "")),
      Map(11L -> ((1, 0.5f)), 22L -> ((2, 0.25f)))))
    val keys = sc.broadcast(Set(11L, 22L))
    def isFrontierScan(p: org.apache.spark.sql.execution.SparkPlan) =
      p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("snapshot-"))
        case _ => false
      }
    val plans = Seq(ScoringFilter.Default, ScoringFilter.Opic).flatMap { sf =>
      val pipeline = new CrawlPipeline(spark, root, webCfg, numBuckets = 8,
        scoring = sf)
      val frontier = pipeline.readFrontier(
        pipeline.lastState().get.frontierPath)
      Seq(pipeline.presentKeys(frontier, keys).toDF(),
        pipeline.mergeTouched(frontier, side, 1700000000000L).toDF())
    }
    plans.foreach { ds =>
      // the prepared physical plan: exchanges are planned into it
      val plan = ds.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      assert(plan.collectLeaves().exists(isFrontierScan),
        s"no frontier scan in plan:\n$plan")
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      shuffles.foreach { e =>
        assert(!e.collectLeaves().exists(isFrontierScan),
          s"frontier scan below a ShuffleExchange — the exact seen-check " +
            s"would shuffle frontier keys at scale:\n$plan")
      }
      val broadcasts = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          e
      }
      assert(broadcasts.isEmpty,
        s"broadcast exchange in an updatedb frontier plan:\n$plan")
    }
    Seq(side, keys).foreach(_.destroy())
  }

  test("commit-log lineage counts (collected on the write pass) match files") {
    val pipeline = new CrawlPipeline(spark, root, webCfg, numBuckets = 8)
    val fullSnapshots = pipeline.log.commits().filter(c =>
      (c.stage == "inject" || c.stage == "compact" ||
        c.stage == "updatedb") && c.deltas.isEmpty)
    assert(fullSnapshots.nonEmpty)
    fullSnapshots.foreach { c =>
      val actual = spark.read.parquet(c.frontierPath)
        .groupBy(col("bucket")).count().as[(Int, Long)].collect()
        .map { case (b, n) => b.toString -> n }.toMap
      assert(c.partitionCounts === actual,
        s"${c.stage} seq=${c.seq}: observed counts drifted from files")
    }
  }

  test("per-site interval re-applied on re-crawl " +
    "(DbConfigFetchSchedule/checkInterval parity; refresh actually bites)") {
    // seeds inject at the DEFAULT interval (30 d); the trie declares a
    // customIntervalSec more than twice that, so the stored interval sits
    // below half the config value and the first merge must RESET it to
    // the config interval — the reference's checkInterval rule. Both
    // engines implement it; parity + an explicit refreshed-value check.
    val ci = 6000000 // ~69 d > 2 * 2592000 (30 d default)
    val cfgs = graft.core.ConfigTrie.build(Seq(
      "http://www.test-0.example/" -> graft.core.SiteConfig(cfgId = 4,
        customIntervalSec = ci)))
    val cfg = webCfg.copy(numHosts = 3, pagesPerHost = 10)
    val dir = Files.createTempDirectory("crawl-cfgint").toString
    val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
      configs = cfgs)
    p.runBatches(2, 40, 8)
    val s = new Simulator(cfg, configs = cfgs)
    s.runBatches(2, 40, 8)
    val rows = p.frontierState().collect()
      .map(r => r.url -> (r.status, r.fetchTime, r.fetchInterval)).toMap
    assert(rows.keySet === s.seenSet)
    s.frontier.foreach { case (url, r) =>
      assert(rows(url) === ((r.status, r.fetchTime, r.interval)),
        s"mismatch for $url")
    }
    // the refresh visibly bit: a FETCHED host-0 row now carries the
    // config interval, not the inject-time default
    val refreshed = p.frontierState().collect().filter(r =>
      r.url.contains("test-0") &&
        r.status != graft.core.CrawlStatus.Unfetched)
    assert(refreshed.nonEmpty)
    assert(refreshed.exists(_.fetchInterval == ci),
      s"no host-0 row picked up the config interval: " +
        refreshed.map(r => (r.url, r.fetchInterval)).take(5).toSeq)
  }

  test("bloom seen-filter changes nothing but the plan") {
    val cfg = webCfg.copy(numHosts = 5, pagesPerHost = 12)
    def run(bloom: Boolean): Set[(String, Int, Long, Float)] = {
      val dir = Files.createTempDirectory(s"crawl-bloom-$bloom").toString
      val p = new CrawlPipeline(spark, dir, cfg, numBuckets = 4,
        useBloomSeenFilter = bloom)
      p.runBatches(2, 40, 8)
      p.frontierState()
        .collect().map(r => (r.url, r.status, r.fetchTime, r.score)).toSet
    }
    assert(run(bloom = true) === run(bloom = false))
  }
}
