package graft.crawl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CrawlStatus, FetchOutcome, Schedule, ScheduleConfig, Urls, XxHash64}

/** Parsed robots.txt rules with RFC 9309 precedence: the longest
  * matching path prefix wins; on equal length Allow wins; no match =>
  * allowed. The empty rule set is allow-all (missing robots.txt).
  * `crawlDelayMs` carries the group's `Crawl-delay` directive (reference
  * RobotRulesParser.java:369-380 getCrawlDelay); -1 = not declared.
  */
final case class RobotRules(allows: Seq[String], disallows: Seq[String],
    crawlDelayMs: Long = -1L)
    extends Serializable {
  def isAllowed(path: String): Boolean = {
    var bestAllow = -1
    var bestDis = -1
    allows.foreach(p =>
      if (path.startsWith(p) && p.length > bestAllow) bestAllow = p.length)
    disallows.foreach(p =>
      if (path.startsWith(p) && p.length > bestDis) bestDis = p.length)
    bestAllow >= bestDis
  }
}

object RobotRules {
  val AllowAll: RobotRules = RobotRules(Nil, Nil)

  /** Upper bound honored for a robots-declared Crawl-delay (the
    * reference's `fetcher.max.crawl.delay`, 30 s): a hostile or
    * misconfigured robots.txt must not stall politeness lanes or
    * executor threads for hours.
    */
  val MaxRobotsDelayMs: Long = 30000L
}

/** Pluggable fetcher (reference extension point `Protocol`,
  * plugin/ExtensionPoint.java; SURVEY.md §2.10). Returns the PROTOCOL
  * response — raw bytes + headers; deriving outlinks/text from them is the
  * parse stage's job, exactly the reference's Protocol/Parser split. The
  * synthetic implementation is the deterministic fake web.
  */
trait Fetcher extends Serializable {
  def fetch(url: String): RawResponse
  def delayMs(url: String): Long

  /** Robots rules for the AUTHORITY of `url` (reference
    * RobotRulesParser.java:414-496; the fetch stage caches one lookup
    * per host per queue group).
    */
  def robotsRules(url: String): RobotRules
}

final class SyntheticFetcher(cfg: WebConfig) extends Fetcher {
  def fetch(url: String): RawResponse = SyntheticWeb.raw(url, cfg)
  def delayMs(url: String): Long = SyntheticWeb.delayMs(url, cfg)
  def robotsRules(url: String): RobotRules =
    RobotRules(Nil, SyntheticWeb.robotsDisallows(Urls.host(url)))
}

/** The crawl loop — generate / fetch / parse / updatedb over a
  * bucket-partitioned parquet frontier with an atomic commit log
  * (SURVEY.md §3: reference lifecycle `Crawler.run` ->
  * GeneratorJob -> FetcherJob -> ParserJob -> DbUpdaterJob, re-expressed
  * as typed Dataset transformations; reference: crawl/Crawler.java:168-224).
  * Fetch returns raw content bytes (WebPage.content); parse derives
  * outlinks/text/signature from them; payload decodes image bytes.
  *
  * Scale design (10^10-URL frontier):
  *  - frontier partitioned by `bucket` = salted host hash — host-local
  *    politeness grouping without host skew concentrating data;
  *  - generate: one window shuffle (per-host cap) + TakeOrderedAndProject
  *    for the global topN — never a full sort of the frontier;
  *  - fetch: one repartition by (bucket ^ batch salt); per-host politeness
  *    is a sequential fold inside `flatMapSortedGroups` (Catalyst-planned
  *    MapGroups — the reference's FetchItemQueues without threads);
  *  - parse: narrow map over the batch staging table, no shuffle;
  *  - updatedb: discovered side is pre-aggregated per URL, capping the
  *    shuffle at |distinct urls|; the topN-bounded batch side is then
  *    collected once and broadcast as variables, so the one frontier scan
  *    is a membership filter — the frontier never shuffles. Its touched
  *    rows replace the discovery candidates inside the delta write's
  *    bucket exchange, which makes the frontier's keys the URL-seen set.
  */
final class CrawlPipeline(
    @transient private val spark: SparkSession,
    root: String,
    webCfg: WebConfig = WebConfig(),
    numBuckets: Int = 32,
    scheduleCfg: ScheduleConfig = ScheduleConfig(),
    maxDepth: Int = 3,
    additionsAllowed: Boolean = true,
    configs: graft.core.ConfigTrie = graft.core.ConfigTrie.empty,
    queueMode: String = QueueMode.ByHost,
    fetchTimelimitMs: Long = -1L,
    compactEvery: Int = 4,
    fetcherOverride: Fetcher = null,
    normalizeRules: graft.core.NormalizeRules = graft.core.NormalizeRules.none,
    scoring: ScoringFilter = ScoringFilter.Default)
    extends Serializable {

  import spark.implicits._
  import CrawlPipeline.{BatchSide, Table}

  @transient val log = new CommitLog(root)
  // the protocol extension point: a real HttpFetcher (or any Fetcher)
  // plugs in here; the deterministic synthetic web is the default
  private val fetcher: Fetcher =
    Option(fetcherOverride).getOrElse(new SyntheticFetcher(webCfg))
  // J3: per-site config trie broadcast once, consulted by every stage
  // (reference: GeneratorMapper.java:91, FetcherReducer.java:515-520,
  // DbUpdateReducer.java:111-117 re-match the trie per row)
  @transient private val trieBc =
    spark.sparkContext.broadcast(configs)

  /** Bucket count of this frontier (ReadApi derives partition-pruning
    * predicates from it).
    */
  def bucketCount: Int = numBuckets

  // ---------------------------------------------------------------- inject

  /** Seed injection (reference: crawl/InjectorJob.java:111-188 — normalize,
    * filter, build UNFETCHED rows, upsert). Seed lines support the
    * reference's `url \t nutch.score=F \t nutch.fetchInterval=I` metadata.
    *
    * Driver-side convenience wrapper over the distributed overload — for
    * small hand-lists and tests only; a production seed table (the
    * reference reads millions of seed URLs from an RDBMS) goes through
    * `inject(Dataset[String], now)` and never lands on the driver.
    */
  def inject(seedLines: Seq[String], now: Long): Dataset[CrawlRow] =
    inject(spark.createDataset(seedLines), now)

  /** Distributed seed injection: the seed lines stay a Dataset end-to-end
    * (JdbcSource.seeds / spark.read.textFile feed this directly).
    */
  def inject(seedLines: Dataset[String], now: Long): Dataset[CrawlRow] = {
    val nb = numBuckets
    val defaultInterval = scheduleCfg.defaultIntervalSec
    val normRules = normalizeRules
    val sc = scoring
    val rows = seedLines
      .flatMap { line =>
        val parts = line.split("\t")
        Urls.canonicalize(parts(0), normRules).filter(UrlFilters.accepts)
          .map { u =>
          var metaScore = Option.empty[Float]
          var interval = defaultInterval
          parts.drop(1).foreach { kv =>
            kv.split("=", 2) match {
              case Array("nutch.score", v) => metaScore = Some(v.toFloat)
              case Array("nutch.fetchInterval", v) => interval = v.toInt
              case _ =>
            }
          }
          Keys.rowOf(u, nb, now, score = sc.injectedScore(u, metaScore),
            intervalSec = interval)
        }
      }
      .dropDuplicates("urlHash")
    runStage[CrawlRow]("b0", "inject", now, Table.Snapshot, rows,
      bucketCounts)(writeSnapshot)
  }

  // ---------------------------------------------------------------- commits

  /** The one stage runner: every commit in the log is written here. It
    * assigns the commit's seq and the table's path, writes `rows` there
    * with `write`, and observes a row count plus the stage's `observed`
    * figures on that write itself: no stage re-scans the bytes it just
    * wrote only to count them. `metrics` turns the observation and the
    * write's wall time into the commit's stage metrics. Returns the table
    * it wrote. The name holds no stage name, so per-stage tracing charges
    * its Spark jobs to the calling stage.
    *
    * Partition counts are the observed `bucketCounts` map when the stage
    * observes one, else `all -> rows`.
    */
  private def runStage[T: Encoder](batchId: String, stage: String,
      now: Long, table: Table, rows: Dataset[_], observed: Column*)(
      write: (DataFrame, String) => Unit,
      metrics: (Map[String, Any], Double) => Map[String, Double] =
        (_, _) => Map.empty): Dataset[T] = {
    val seq = log.nextSeq()
    val path = table match {
      case Table.Batch(p) => p
      case Table.Snapshot => s"$root/frontier/snapshot-$seq"
      case Table.Delta(_) => s"$root/frontier/delta-$seq"
    }
    val figures = count(lit(1)).as("rows") +: observed
    val obs = org.apache.spark.sql.Observation()
    val t0 = System.nanoTime()
    write(rows.observe(obs, figures.head, figures.tail: _*).toDF(), path)
    val wallMs = (System.nanoTime() - t0) / 1e6
    // 30 s guard: an observation that misses its listener event would
    // block forever. The fallback re-aggregates the same figures over the
    // batch-sized table just written; a frontier snapshot reads its
    // parquet FOOTER counts instead — metadata only, never a re-scan.
    def byName(r: org.apache.spark.sql.Row) =
      r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq)
    val seen: Map[String, Any] =
      try byName(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "s")))
      catch {
        case _: java.util.concurrent.TimeoutException
            if table == Table.Snapshot =>
          val fc = footerCounts(path)
          Map("rows" -> fc.values.sum, "bucketCounts" -> fc)
        case _: java.util.concurrent.TimeoutException =>
          byName(readAs[T](path).agg(figures.head, figures.tail: _*).head())
      }
    val counts = seen.get("bucketCounts").fold(
      Map("all" -> seen("rows").asInstanceOf[Long]))(
      _.asInstanceOf[scala.collection.Map[String, Long]].toMap)
    val n = counts.values.sum
    val written = Commit(seq, batchId, stage, "complete", path, n, counts,
      metrics(seen, wallMs), now)
    val commit = table match {
      // lineage counts for a delta commit describe the DELTA files;
      // rowCount is base + delta rows, an upper bound on the logical state
      // (a touched row counts twice) — ReadApi's /batches and perfbench
      // read it as the stage's row figure
      case Table.Delta(base) =>
        written.copy(frontierPath = base.frontierPath,
          rowCount = base.rowCount + n, deltaPaths = base.deltas :+ path)
      case _ => written
    }
    log.append(commit)
    readAs[T](path)
  }

  /** Per-bucket row counts of a frontier-keyed table, as an observed
    * figure: the commit log's partition lineage.
    */
  private def bucketCounts: Column = {
    val agg = udaf(new BucketCountsAgg(numBuckets))
    agg(col("bucket")).as("bucketCounts")
  }

  /** A full snapshot write: task partitions aligned with bucket dirs, one
    * file per bucket instead of |tasks| x |buckets| small files (2048 ->
    * 64 at the bench config).
    */
  private def writeSnapshot(rows: DataFrame, path: String): Unit =
    rows.repartition(numBuckets, col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)

  private def footerCounts(path: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("bucket=")).flatMap { dir =>
      val bucket = dir.getPath.getName.stripPrefix("bucket=")
      val n = fs.listStatus(dir.getPath)
        .filter(_.getPath.getName.endsWith(".parquet")).map { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(f.getPath, conf))
          try reader.getRecordCount finally reader.close()
        }.sum
      if (n > 0) Some(bucket -> n) else None
    }.toMap
  }

  def readFrontier(path: String): Dataset[CrawlRow] = readAs[CrawlRow](path)

  /** Read a staged table (frontier snapshot or delta, fetchlist, fetched,
    * parsed, payload, hostdb) with the schema its writer used. A
    * schema-less read would run a one-task footer-inference job per table
    * per read.
    */
  private def readAs[T: Encoder](path: String): Dataset[T] =
    spark.read.schema(implicitly[Encoder[T]].schema).parquet(path).as[T]

  /** The last committed frontier STATE (inject / updatedb / compact),
    * whichever is newest in the log.
    */
  private[crawl] def lastState(): Option[Commit] =
    log.commits()
      .filter(c => c.stage == "updatedb" || c.stage == "inject" ||
        c.stage == "compact")
      .lastOption

  /** Latest version of each key across an ordered list of frames (later
    * frames win): the one chain fold, behind [[overBase]] (so the MoR view
    * and every compaction) and updatedb's delta write. Its one exchange
    * repartitions the frames by `bucket` into `max(1, numBuckets / 8)`
    * partitions, so its shuffle is delta-sized (topN-bounded per frame).
    */
  private def latestOf(frames: Seq[Dataset[CrawlRow]]): Dataset[CrawlRow] = {
    // single-frame fold is the identity: every delta is itself written
    // through this fold, so each frame is unique by urlHash and the
    // dedup window only matters across frames (a one-delta view or
    // compaction skips its exchange)
    if (frames.lengthCompare(1) == 0) return frames.head
    // `bucket` is a function of the URL's host, so equal urlHash means
    // equal bucket: the bucket exchange (the layout every frontier write
    // wants anyway) already clusters the window, which adds no exchange
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("urlHash")).orderBy(col("_dseq").desc)
    frames.zipWithIndex
      .map { case (ds, i) => ds.withColumn("_dseq", lit(i)) }
      .reduce(_ unionByName _)
      .repartition(math.max(1, numBuckets / 8), col("bucket"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_dseq")
      .as[CrawlRow]
  }

  /** A folded delta chain `latest` resolved over the base snapshot at
    * `basePath` — Iceberg merge-on-read semantics: base minus the keys
    * present in the chain, union the chain's latest version of each key.
    * The chain is bounded by `compactEvery`, so its keys (the anti-join's
    * broadcast side) stay topN-bounded; the base scan remains untouched
    * columnar parquet.
    */
  private def overBase(basePath: String, latest: Dataset[CrawlRow])
      : Dataset[CrawlRow] =
    // unionByName: a partitionBy-layout base read appends `bucket` last,
    // while delta files carry case-class column order
    readFrontier(basePath)
      .join(broadcast(latest.select(col("urlHash"))), Seq("urlHash"),
        "left_anti")
      .unionByName(latest.toDF())
      .as[CrawlRow]

  /** Resolve a commit's frontier view: its delta chain folded over its
    * base snapshot. A full snapshot (no deltas) reads directly.
    */
  private[crawl] def viewOf(c: Commit): Dataset[CrawlRow] =
    if (c.deltas.isEmpty) readFrontier(c.frontierPath)
    else overBase(c.frontierPath, latestOf(c.deltas.map(readFrontier)))

  /** The last committed frontier state, or a clear failure on a root
    * that has none.
    */
  private def currentState(): Commit = lastState().getOrElse(
    throw new IllegalStateException("no frontier committed yet"))

  /** The current frontier state as a Dataset (test/ops surface). */
  def frontierState(): Dataset[CrawlRow] = viewOf(currentState())

  /** Compact the delta chain into a full snapshot (the Iceberg MoR
    * compaction job). No-op when the state is already a full snapshot.
    */
  def compact(now: Long): Unit =
    lastState().filter(_.deltas.nonEmpty).foreach { c =>
      val t0 = System.nanoTime()
      foldChain(c.batchId, "compact", now, c.frontierPath,
        c.deltas.map(readFrontier)) {
        Map("compactWallMs" -> (System.nanoTime() - t0) / 1e6)
      }
    }

  /** Fold a delta chain (ordered frames, later wins) over the base
    * snapshot at `basePath` and commit the full snapshot as `stage`
    * through [[writeSnapshot]] — the one chain compaction behind both
    * `compact` and updatedb's compacting merge. `metrics` is evaluated
    * after the write. The name holds no stage name, so per-stage tracing
    * charges its Spark jobs to the calling stage.
    */
  private def foldChain(batchId: String, stage: String, now: Long,
      basePath: String, chain: Seq[Dataset[CrawlRow]])(
      metrics: => Map[String, Double]): Unit = {
    // persisted: the folded chain feeds both the anti-join's broadcast
    // keys and the write; the key side is column-pruned, so its exchange
    // is not reused and the chain (on updatedb's branch, its frontier
    // scan too) would run twice
    val latest = latestOf(chain)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try runStage[CrawlRow](batchId, stage, now, Table.Snapshot,
      overBase(basePath, latest), bucketCounts)(
      writeSnapshot, (_, _) => metrics)
    finally latest.unpersist()
  }

  // -------------------------------------------------------------- generate

  /** Build the batch fetchlist (reference: crawl/GeneratorJob.java:149-202;
    * eligibility cascade GeneratorMapper.java:53-200; per-host caps + topN
    * GeneratorReducer.java:43-124). Ordering contract = score desc, url asc
    * (SelectorEntry.compareTo, GeneratorJob.java:92-98) — the parity
    * definition for the simulator oracle.
    */
  def generate(frontier: Dataset[CrawlRow], batchId: String, now: Long,
      topN: Int, maxPerHost: Int): Dataset[CrawlRow] = {
    // limit() collapses to one partition; spread the fetchlist by host so
    // the fetch stage's shuffle-write side is parallel, not one task
    runStage[CrawlRow](batchId, "generate", now,
      Table.Batch(s"$root/batches/$batchId/fetchlist"),
      fetchlistPlan(frontier, batchId, now, topN, maxPerHost), bucketCounts)(
      _.repartition(numBuckets, col("host"))
        .write.mode(SaveMode.Overwrite).parquet(_),
      (_, ms) => Map("generateWallMs" -> ms))
  }

  /** The fetchlist as an UNEXECUTED plan (split from [[generate]] so specs
    * can assert on its physical shape). One columnar pipeline for every
    * config trie: the F1 cascade (status, retries, [[siteColumns]]'s
    * `siteOk`, due-or-overdue) with the O3 max-interval clamp, one per-host
    * `row_number` window filtered by `siteCap`, the exact topN and the
    * lastBatch stamp — zero `DeserializeToObject` over the frontier.
    */
  private[crawl] def fetchlistPlan(frontier: Dataset[CrawlRow],
      batchId: String, now: Long, topN: Int, maxPerHost: Int)
      : Dataset[CrawlRow] = {
    val maxIntervalMs = scheduleCfg.maxIntervalSec * 1000L
    val clampedInterval = (scheduleCfg.maxIntervalSec * 0.9).toInt
    val (siteOk, siteCap) = siteColumns(maxPerHost)

    // F1 eligibility cascade + O3 max-interval clamp: the ONLY per-batch
    // full-frontier pass stays inside WholeStageCodegen
    val overdue = col("fetchTime") - lit(now) > lit(maxIntervalMs)
    val eligible = frontier
      .filter(col("status") =!= lit(CrawlStatus.Gone) &&
        col("retries") <= lit(scheduleCfg.retryMax) && siteOk &&
        (col("fetchTime") <= lit(now) || overdue))
      // order matters: rewrite fetchInterval while fetchTime still holds
      // the original value `overdue` tests, then clamp fetchTime
      .withColumn("fetchInterval",
        when(overdue, lit(clampedInterval)).otherwise(col("fetchInterval")))
      .withColumn("fetchTime",
        when(overdue, lit(now)).otherwise(col("fetchTime")))

    // A2 per-host cap via ranked window, then exact global topN (O1+O2).
    // A literal cap is rewritten by Catalyst into WindowGroupLimit
    // (partial top-k BEFORE the window shuffle); a per-site cap filters on
    // each row's own value, which gets no such pushdown, so that window
    // shuffles every eligible row. ScoringFilter generatorSortValue is the
    // rank (Default = the score itself).
    val sortVal = scoring.generatorSortValue(col("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(sortVal.desc, col("url").asc)
    eligible
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= siteCap)
      .drop("rn")
      .orderBy(sortVal.desc, col("url").asc)
      .limit(topN)
      .withColumn("lastBatch", lit(batchId))
      .as[CrawlRow]
  }

  /** Generate's two per-site Columns: `siteOk` (the row is within its
    * site's fetch depth and passes its sub-filters, F4/F5) and `siteCap`
    * (its host's per-batch cap, the onceCount override). With an empty
    * trie they are literals over `maxDepth` and `maxPerHost`, so the
    * default plan carries no UDF; otherwise UDFs over the broadcast trie,
    * at most two trie lookups per row.
    */
  private def siteColumns(maxPerHost: Int): (Column, Column) =
    if (configs.isEmpty)
      (col("distance") <= lit(maxDepth), lit(maxPerHost))
    else {
      val trie = trieBc
      val depthCap = maxDepth
      val ok = udf { (url: String, distance: Int) =>
        val cfg = trie.value.configOrDefault(url)
        distance <= (if (cfg.fetchDepth != Int.MaxValue) cfg.fetchDepth
          else depthCap) && cfg.acceptsSub(url)
      }
      val cap = udf { (url: String) =>
        val m = trie.value.configOrDefault(url).maxPerHost
        if (m > 0) m else maxPerHost
      }
      (ok(col("url"), col("distance")), cap(col("url")))
    }

  // ----------------------------------------------------------------- fetch

  /** Politeness-scheduled fetch with inline parse (reference:
    * fetcher/FetcherReducer.java — FetchItemQueues :167-449 with per-host
    * crawlDelay/maxConcurrent; inline parse :682-686; status dispatch
    * :557-605; robots cache RobotRulesParser.java:54,414-496 — note the
    * fork comments robots *enforcement* out at :522-544; we enforce it,
    * deterministic in the synthetic web).
    *
    * Virtual clock: each host's timeline starts at `now`; `maxConcurrent`
    * lanes per host; lane pick = earliest-available (deterministic).
    * Cross-host parallelism is Spark's — politeness is per-host
    * serialization, exactly the reference's queue model.
    */
  def fetch(fetchlist: Dataset[CrawlRow], batchId: String, now: Long)
      : Dataset[FetchResult] = {
    val f = fetcher
    val defaultDelay = webCfg.crawlDelayMs
    val defaultLanes = math.max(1, webCfg.maxConcurrent)
    val trie = trieBc
    val mode = queueMode
    val timelimit = fetchTimelimitMs

    // groupByKey inserts one hash exchange on the queue key — the
    // politeness partitioner (reference URLPartitioner byHost/byDomain/
    // byIP). NOTE: AQE's post-shuffle coalescing must stay OFF for this
    // stage: rows are tiny but rows-per-second is compute-bound (image
    // decode/encode), and byte-based coalescing collapses it to one task
    // (measured: identical 24.8s fetch wall at 2 and 32 cores with
    // coalescing on).
    val results = fetchlist
      .groupByKey(r => QueueMode.keyOf(mode, r.host))
      // O5 in-queue order: the Column generate ranks by, desc, then url
      // asc — sorted by the group's own Sort, under MapGroups
      .flatMapSortedGroups(scoring.generatorSortValue(col("score")).desc,
        col("url").asc) { (qkey, rows) =>
        // robots cache: one lookup per HOST in the queue group == the
        // per-executor LRU in the reference (robots stay per-host even
        // when the politeness queue is per-domain/IP)
        val rulesOf = scala.collection.mutable.Map[String, RobotRules]()
        // queue politeness settings: the config trie at the queue key
        // (J2/J3), the same values hostdb materializes per host
        val (crawlDelay, lanes) = CrawlPipeline.politeness(trie.value, qkey,
          defaultDelay, defaultLanes)
        val laneAvail = Array.fill(lanes)(now)
        rows.flatMap[FetchResult] { r =>
          val host = r.host
          val lane = laneAvail.zipWithIndex.minBy { case (t, i) => (t, i) }._2
          val start = laneAvail(lane)
          val path = Urls.pathOf(r.url)
          val robots =
            rulesOf.getOrElseUpdate(host, f.robotsRules(r.url))
          if (timelimit > 0 && start - now >= timelimit) {
            // T5 timelimit: queue purged once the virtual budget is spent
            // (reference FetcherReducer.java:739-756 feeder drain); the
            // row keeps its frontier state and re-generates next batch
            None
          } else if (!robots.isAllowed(path)) {
            // robots-denied: no request is made — no politeness cost
            Some(FetchResult(r.urlHash, r.url, host, FetchOutcome.Gone,
              "robots/denied", null, null, 0L, Map.empty, r.anchor,
              r.score, r.distance, start, start, batchId))
          } else {
            val delay = f.delayMs(r.url)
            val end = start + delay
            // a robots-declared Crawl-delay raises the politeness floor
            // for its host above the config delay (reference
            // FetcherReducer queue setup reads getCrawlDelay), BOUNDED:
            // a hostile 'Crawl-delay: 9999999' must not starve the lane
            // (the reference's fetcher.max.crawl.delay cap, 30 s)
            laneAvail(lane) = end + math.max(crawlDelay,
              math.min(robots.crawlDelayMs, RobotRules.MaxRobotsDelayMs))
            Some(f.fetch(r.url) match {
              case RawPage(ct, headers, bytes, declaredLen) =>
                FetchResult(r.urlHash, r.url, host, FetchOutcome.Success,
                  ct, null, bytes, declaredLen, headers, r.anchor,
                  r.score, r.distance, start, end, batchId)
              case RawRedirect(to, perm) =>
                val oc = if (perm) FetchOutcome.RedirPerm
                  else FetchOutcome.RedirTemp
                FetchResult(r.urlHash, r.url, host, oc, "text/html", to,
                  null, 0L, Map.empty, r.anchor, r.score, r.distance,
                  start, end, batchId)
              case RawNotFound =>
                FetchResult(r.urlHash, r.url, host, FetchOutcome.Gone,
                  "text/html", null, null, 0L, Map.empty, r.anchor,
                  r.score, r.distance, start, end, batchId)
              case RawServerError =>
                FetchResult(r.urlHash, r.url, host,
                  FetchOutcome.RetryTransient, "text/html", null, null, 0L,
                  Map.empty, r.anchor, r.score, r.distance,
                  start, end, batchId)
            })
          }
        }
      }

    // content bytes are jpeg/png/gzip — already entropy-coded; parquet
    // snappy on top is pure CPU/allocation overhead on the widest write,
    // and dictionary-encoding unique binaries is wasted hashing
    runStage[FetchResult](batchId, "fetch", now,
      Table.Batch(s"$root/batches/$batchId/fetched"), results,
      max(col("fetchEnd")).as("maxEnd"))(
      _.write.mode(SaveMode.Overwrite)
        .option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false").parquet(_),
      { (seen, ms) =>
        val n = seen("rows").asInstanceOf[Long]
        val vWall =
          Option(seen("maxEnd")).fold(0L)(_.asInstanceOf[Long]) - now
        Map("pages" -> n.toDouble,
          "fetchWallMs" -> ms,
          "virtualWallMs" -> vWall.toDouble,
          "virtualPagesPerSec" ->
            (if (vWall > 0) n * 1000.0 / vWall else 0.0))
      })
  }

  // ----------------------------------------------------------------- parse

  /** The parse stage (reference: parse/ParserJob.java over the batch's
    * WebPageIndex rows; ParseUtil.java:244-367): content bytes ->
    * outlinks + text + signature. One narrow map over the fetched batch —
    * no shuffle; row-level logic is the pure `Parse.page` shared with the
    * simulator oracle. Non-success rows pass through so updatedb consumes
    * parse output alone (outcome + redirect + signature in one table).
    */
  def parse(fetched: Dataset[FetchResult], batchId: String, now: Long)
      : Dataset[ParsedPage] = {
    val out = fetched.map { r =>
      val po =
        if (r.outcome == FetchOutcome.Success)
          Parse.page(r.url, r.contentType, r.headers, r.content,
            r.contentLength)
        else Parse.ParseOut(Map.empty, "", Parse.StatusNotParsed)
      val sig =
        if (r.outcome == FetchOutcome.Success)
          graft.core.Signature.md5(r.content, r.url)
        else null
      // T7 parse-level redirects (meta refresh, ParseUtil.java:244-279):
      // the target rides the SAME redirectTo channel fetch-level redirects
      // use — a Success outcome never has one otherwise — so discovery and
      // reprUrl handling fall out of the existing paths
      val redir =
        if (po.refreshUrl != null) po.refreshUrl else r.redirectTo
      ParsedPage(r.urlHash, r.url, r.host, r.outcome, r.contentType,
        redir, po.outlinks, po.text, sig, po.status, r.anchor,
        r.srcScore, r.srcDistance, r.fetchStart, r.fetchEnd, r.batchId,
        po.refreshTime)
    }
    runStage[ParsedPage](batchId, "parse", now,
      Table.Batch(s"$root/batches/$batchId/parsed"), out)(
      _.write.mode(SaveMode.Overwrite).parquet(_),
      (_, ms) => Map("parseWallMs" -> ms))
  }

  /** Decode+validate image payloads from fetched CONTENT bytes (C11 —
    * reference ImageParser: length-vs-Content-Length truncation check,
    * nutch-parse-image-plugin/.../ImageParser.java:41-79 — generalized to
    * full decode + phash; per input_hint the payload table is (image_id,
    * bytes, w, h, fmt, caption, phash)). The caption is the inlink's
    * alt/anchor text carried on the frontier row — nothing here re-touches
    * the fake web: bytes, dimensions, and phash all come from the fetch
    * output, as they must in a real crawl.
    */
  def payloads(fetched: Dataset[FetchResult], batchId: String,
      now: Long): Dataset[PayloadRow] = {
    val out = fetched
      .filter(r => r.outcome == FetchOutcome.Success &&
        r.contentType != null && r.contentType.startsWith("image/") &&
        r.content != null && r.content.length == r.contentLength) // C11 gate
      .map { r =>
        val (px, w, h) = ImageCodec.decodePixels(r.content)
        PayloadRow(r.url, r.content, w, h,
          r.contentType.stripPrefix("image/"), r.anchor,
          ImageCodec.phash(px, w, h), r.urlHash, batchId)
      }
    runStage[PayloadRow](batchId, "payload", now,
      Table.Batch(s"$root/batches/$batchId/payload"), out)(
      _.write.mode(SaveMode.Overwrite)
        .option("compression", "uncompressed").parquet(_)) // encoded bytes
  }

  // --------------------------------------------------------------- updatedb

  /** Merge fetch outcomes + discovered outlinks into the frontier
    * (reference: crawl/DbUpdateMapper.java:55-118 emit,
    * DbUpdateReducer.java:102-274 merge, UrlWithScore secondary sort).
    *
    * Discovered outlinks are aggregated per destination FIRST (min
    * distance, best inherited score, inlink count — the explode+groupBy
    * analog of the reducer's sorted-inlink fold, capped semantics of
    * db.update.max.inlinks). The batch side is then resolved ONCE on the
    * driver: the outcome rows and the aggregate's (urlHash, bucket,
    * distance, contrib) are collected — topN-bounded by generate's
    * contract, under Spark's `spark.driver.maxResultSize` guard — and
    * shipped as SparkContext broadcast variables, so every frontier probe
    * is a key-membership filter over the scan: no join, no Exchange, and
    * the 10^10-row frontier never shuffles (the reference needed a full
    * partition/sort/group pass per updatedb, UrlWithScore.java:124-195).
    *
    * D1 URL-seen set: the frontier's keys themselves, with ONE frontier
    * scan. Every discovery within depth is a candidate row; the delta is
    * `latestOf(candidates, touched)`, so a key the frontier already holds
    * keeps its merged version and only absent keys enter as new rows.
    */
  def updatedb(frontier: Dataset[CrawlRow], parsed: Dataset[ParsedPage],
      batchId: String, now: Long): Dataset[CrawlRow] = {
    // the state this batch merges into; a root with none fails here,
    // before any Spark work
    val prev = currentState()
    val nb = numBuckets
    val sched = scheduleCfg
    val depthCap = maxDepth
    val trie = trieBc
    val normRules = normalizeRules
    val sc = scoring

    // T7: redirects feed the discovery stream like outlinks
    val discovered: Dataset[Discovered] = parsed.flatMap { r =>
      val outs = r.outlinks.iterator ++
        Option(r.redirectTo).iterator.map(to => (to, ""))
      val n = math.max(1, r.outlinks.size + Option(r.redirectTo).size)
      outs.flatMap { case (raw, anchor) =>
        // F6: per-site rewrite applied between canonicalize passes — the
        // rewritten URL is what enters the frontier (the reference's
        // delete-old-key + emit-new collapses to this at steady state)
        Urls.canonicalize(raw, normRules)
          .map(u => trie.value.configOrDefault(u).rewriteUrl(u))
          .flatMap(Urls.canonicalize)
          .filter(UrlFilters.accepts)
          .map { u =>
            val host = Urls.host(u)
            Discovered(XxHash64.hashUtf8(u, 42L), u, host,
              Urls.domain(host), Keys.bucketOf(host, nb),
              contrib = sc.outlinkContribution(r.url, r.srcScore, n),
              inlinks = 1,
              distance = r.srcDistance + 1, anchor = anchor)
          }
      }
    }

    // per-destination aggregation (J1 analog of the reducer's sorted
    // inlink fold): min distance, max score contribution, min anchor as
    // the representative inlink anchor (all order-independent =>
    // deterministic under any shuffle order).
    // Columnar agg, not mapGroups: codegen'd hash aggregate WITH map-side
    // partial aggregation — the outlink explosion is the largest data
    // volume in the pipeline, and partial agg collapses it before the
    // shuffle. first() is safe: same urlHash => same url/host/bucket.
    // Persisted: the side collect materializes it, the candidates read it;
    // released however the merge ends, like the side
    val discAgg = discovered
      .groupBy(col("urlHash"))
      .agg(first(col("url")).as("url"),
        first(col("host")).as("host"),
        first(col("domain")).as("domain"),
        first(col("bucket")).as("bucket"),
        max(col("contrib")).as("contrib"),
        count(lit(1)).cast("int").as("inlinks"),
        min(col("distance")).as("distance"),
        min(col("anchor")).as("anchor"))
      .as[Discovered]
      .persist()
    try {
      // mergeWallMs covers all of the merge's Spark work, side included
      val t0 = System.nanoTime()
      val outcomes = parsed
        .select(col("urlHash"), col("outcome"),
          coalesce(col("signature"), lit(Array.emptyByteArray))
            .as("signature"),
          col("batchId"),
          coalesce(col("redirectTo"), lit("")).as("redirectTo"),
          col("refreshTime"))
        .as[Outcome].collect()
      val disc = discAgg
        .select(col("urlHash"), col("distance"), col("contrib"))
        .as[(Long, Int, Float)].collect()
      val side = spark.sparkContext.broadcast(BatchSide(
        outcomes.iterator.map(o => o.urlHash -> o).toMap,
        disc.iterator.map(d => d._1 -> ((d._2, d._3))).toMap))
      try {
        // every discovery within depth as a new row; a key the frontier
        // already holds is also a touched row, whose merged version
        // replaces its candidate in the delta's fold (later frames win) —
        // so the frontier's keys stay the exact seen-set with ONE scan
        val candidates =
          if (!additionsAllowed) spark.emptyDataset[CrawlRow]
          else discAgg
            .filter(col("distance") <= lit(depthCap))
            .map { d =>
              // F4: per-site custom score/interval for new rows
              val cfg = trie.value.configOrDefault(d.url)
              Keys.rowOf(d.url, nb, now,
                score = sc.newRowScore(d.url, d.contrib, cfg.customScore),
                distance = d.distance,
                intervalSec =
                  if (cfg.customIntervalSec > 0) cfg.customIntervalSec
                  else sched.defaultIntervalSec,
                anchor = d.anchor)
            }
        val frames = Seq(candidates, mergeTouched(frontier, side, now))

        // Snapshot strategy (Iceberg merge-on-read, emulated): each batch
        // writes a DELTA of changed+new rows (topN-bounded — never the
        // frontier), and every `compactEvery`-th batch compacts the chain
        // into a full bucket-partitioned snapshot. Round 1's full rewrite
        // per batch made the snapshot exchange the merge stage's scaling
        // bottleneck (0.60 efficiency); here the per-batch merge cost is
        // O(delta) and the full-width exchange is amortized over the chain.
        def merged() = Map("mergeWallMs" -> (System.nanoTime() - t0) / 1e6)
        if (prev.deltas.size < compactEvery - 1)
          // the fold's bucket exchange is the delta write's layout
          runStage[CrawlRow](batchId, "updatedb", now, Table.Delta(prev),
            latestOf(frames), bucketCounts)(
            _.write.mode(SaveMode.Overwrite).parquet(_),
            (_, _) => merged())
        else
          // compacting merge: fold the chain + this batch into a full
          // snapshot
          foldChain(batchId, "updatedb", now, prev.frontierPath,
            prev.deltas.map(readFrontier) ++ frames) {
            merged() + ("compacted" -> 1.0)
          }
      } finally side.destroy()
    } finally discAgg.unpersist()
    frontierState()
  }

  /** The touched frontier rows (fetched or rediscovered this batch),
    * selected by a membership filter over the scan (plan spec-pinned) and
    * merged in executors by [[CrawlPipeline.mergeRow]], with each fetched
    * row's per-site `customIntervalSec` from the trie. The ScoringFilter
    * updateDbScore hook follows as a columnar step whose `contrib` is a
    * lookup in the same side (null when not rediscovered); for a filter
    * that keeps stored scores, like Default, the optimizer drops the step
    * and its unused lookup.
    */
  private[crawl] def mergeTouched(frontier: Dataset[CrawlRow],
      side: Broadcast[BatchSide], now: Long): Dataset[CrawlRow] = {
    val trie = trieBc
    val sched = scheduleCfg
    val touches = udf((h: Long) => side.value.touches(h))
    val contrib = udf((h: Long) =>
      side.value.disc.get(h).map(d => java.lang.Float.valueOf(d._2)).orNull)
    frontier.filter(touches(col("urlHash"))).map { r =>
      val s = side.value
      val out = s.outcomes.getOrElse(r.urlHash, null)
      val ci = if (out == null) 0
        else trie.value.configOrDefault(r.url).customIntervalSec
      CrawlPipeline.mergeRow(r, out,
        s.disc.get(r.urlHash).fold(Int.MaxValue)(_._1), ci, now, sched)
    }
      .withColumn("score", scoring
        .updateExistingScore(col("score"), contrib(col("urlHash")))
        .cast("float"))
      .as[CrawlRow]
  }

  // --------------------------------------------------------------- hostdb

  /** Materialize the hostdb from the merged frontier (A3/J2 — reference
    * host/HostDbUpdateJob.java:62-71 + HostDbUpdateReducer.java:39-80:
    * per-host page/fetched counts; storage/Host.java per-host politeness
    * keys q_cd/q_mt read by the fetcher at FetcherReducer.java:363-387).
    * Stats aggregate map-side (hash partial agg) so the exchange carries
    * |hosts| rows, not |frontier|; the effective politeness settings are
    * materialized as a read surface by [[CrawlPipeline.politeness]], the
    * same resolution fetch applies per queue. A3 link-host histograms
    * (HostDbUpdateReducer.java:46-72): the batch's (srcHost, dstHost) link
    * counts, bounded by its outlinks, are collected; the top-K of each
    * direction fills in the one map over the stats aggregate.
    */
  def hostdb(frontier: Dataset[CrawlRow], batchId: String, now: Long,
      parsed: Dataset[ParsedPage]): Dataset[HostRow] = {
    val trie = trieBc
    val defaultDelay = webCfg.crawlDelayMs
    val defaultLanes = math.max(1, webCfg.maxConcurrent)
    val hostOf = udf((u: String) => Urls.host(u))
    val links = parsed
      .select(col("host").as("src"),
        explode(map_keys(col("outlinks"))).as("dst"))
      .groupBy(col("src"), hostOf(col("dst")).as("dst"))
      .agg(count(lit(1)))
      .as[(String, String, Long)].collect()
    val hists = spark.sparkContext.broadcast((
      CrawlPipeline.topLinks(links.map(l => (l._2, l._1, l._3))),
      CrawlPipeline.topLinks(links)))
    try {
      val out = frontier.groupBy(col("host")).agg(
        count(lit(1)).as("pages"),
        count_if(col("status") === CrawlStatus.Fetched ||
          col("status") === CrawlStatus.NotModified).as("fetched"),
        count_if(col("status") === CrawlStatus.Gone).as("gone"),
        count_if(col("status") === CrawlStatus.Unfetched).as("unfetched"),
        avg(col("score")).as("avgScore"),
        max(col("distance")).as("maxDistance"))
        .as[(String, Long, Long, Long, Long, Double, Int)]
        .map { case (host, pages, fetched, gone, unf, avgS, maxD) =>
          val (delay, lanes) = CrawlPipeline.politeness(trie.value, host,
            defaultDelay, defaultLanes)
          val (in, outH) = hists.value
          HostRow(host, pages, fetched, gone, unf, avgS, maxD, delay, lanes,
            in.getOrElse(host, Map.empty), outH.getOrElse(host, Map.empty),
            batchId)
        }
      runStage[HostRow](batchId, "hostdb", now,
        Table.Batch(s"$root/hostdb/$batchId"), out)(
        _.write.mode(SaveMode.Overwrite).parquet(_))
    } finally hists.destroy()
  }

  // ----------------------------------------------------------------- loop

  /** Drive `depth` generate->fetch->updatedb batches (reference:
    * Crawler.java:168-224 depth loop; T1 micro-batch trigger). Resumes
    * from the commit log (T2 — the ZK `{batch}/{step}` gate as commit-log
    * reads): a committed (batch, stage) is never re-run; its output is
    * read back from the table its commit names.
    */
  def runBatches(depth: Int, topN: Int, maxPerHost: Int,
      startTime: Long = 1700000000000L): Dataset[CrawlRow] = {
    val committed = log.commits().map(c => (c.batchId, c.stage) -> c).toMap
    // the frontier VIEW is consumed by generate, updatedb's one scan and
    // hostdb — cache each view once instead of re-resolving base ∖ deltas
    // per consumer; the loop owns each cache, released however it ends
    def cached(ds: Dataset[CrawlRow]) =
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // resume starts on the newest committed state, which every committed
    // updatedb is already folded into
    var frontier = cached(lastState().fold(
      inject(SyntheticWeb.seeds(webCfg), startTime))(viewOf))
    try {
      for (i <- 1 to depth) {
        val batchId = s"b$i"
        val now = startTime + i * 3600000L // 1h virtual tick per batch
        def step[T: Encoder](stage: String)(run: => Dataset[T]): Dataset[T] =
          committed.get((batchId, stage))
            .fold(run)(c => readAs[T](c.frontierPath))
        val list = step("generate")(
          generate(frontier, batchId, now, topN, maxPerHost))
        // T2: empty step => skip remaining stages (exitValue=2 analog). The
        // batch's generate commit holds the fetchlist size observed on its
        // write — no count job
        if (log.commits().exists(c => c.batchId == batchId &&
            c.stage == "generate" && c.rowCount > 0)) {
          val fetched = step("fetch")(fetch(list, batchId, now))
          val parsed = step("parse")(parse(fetched, batchId, now))
          step("payload")(payloads(fetched, batchId, now))
          if (!committed.contains((batchId, "updatedb"))) {
            val next = cached(updatedb(frontier, parsed, batchId, now))
            frontier.unpersist()
            frontier = next
          }
          step("hostdb")(hostdb(frontier, batchId, now, parsed))
        }
      }
      // the returned view resolves from parquet; no cache outlives the loop
      frontier
    } finally frontier.unpersist()
  }
}

object CrawlPipeline {

  /** The table a stage writes: it decides the path, the observation's
    * fallback and what the commit records.
    */
  private[crawl] sealed trait Table
  private[crawl] object Table {
    /** A batch table at a fixed path (fetchlist, fetched, parsed,
      * payload, hostdb); its commit names it.
      */
    final case class Batch(path: String) extends Table
    /** A full frontier snapshot: its commit names it and starts a fresh
      * delta chain.
      */
    case object Snapshot extends Table
    /** A frontier delta over the state `base`: its commit keeps the base
      * snapshot and extends the delta chain.
      */
    final case class Delta(base: Commit) extends Table
  }

  /** Top-K host->host link histograms kept per hostdb row (reference
    * HostDbUpdateReducer.java:46-72). K bounds the row width — the
    * reference's own `TODO: limit number of links`.
    */
  val HostLinkTopK = 50

  /** One batch's side of the updatedb merge, resolved on the driver:
    * each fetched row's outcome and each discovered key's
    * (distance, contrib), keyed by urlHash.
    */
  private[crawl] final case class BatchSide(outcomes: Map[Long, Outcome],
      disc: Map[Long, (Int, Float)]) {
    def touches(h: Long): Boolean = outcomes.contains(h) || disc.contains(h)
  }

  /** The updatedb merge of one touched frontier row: `Schedule.next` — the
    * one source of truth for re-crawl scheduling, shared with the
    * simulator oracle — applied to a row with a fetch outcome `out` (null
    * when the row was only rediscovered), after refining its distance to
    * `newDist` (Int.MaxValue = not rediscovered) and, on re-crawl,
    * refreshing its interval to the per-site `customIntervalSec`
    * (0 = none).
    */
  def mergeRow(row0: CrawlRow, out: Outcome, newDist: Int,
      customIntervalSec: Int, now: Long, sched: ScheduleConfig): CrawlRow = {
    val row1 =
      if (newDist >= row0.distance) row0 else row0.copy(distance = newDist)
    if (out == null) row1
    else {
      // per-site interval refresh on re-crawl (reference
      // DbConfigFetchSchedule.shouldFetch -> NutchConstant.checkInterval
      // :975-989): a stored interval below HALF the config's
      // customInterval is reset to the config value, so a site whose
      // trie config changes after discovery picks the new interval up at
      // its next merge
      val ci = customIntervalSec
      val row =
        if (ci > 0 && row1.fetchInterval < ci * 0.5)
          row1.copy(fetchInterval = ci)
        else row1
      val st0 = graft.core.ScheduleState(row.status, row.fetchTime,
        row.prevFetchTime, row.fetchInterval, row.retries, row.modifiedTime)
      val changed = row.signature == null ||
        !java.util.Arrays.equals(row.signature, out.signature)
      val effOutcome =
        if (out.outcome == FetchOutcome.Success && !changed)
          FetchOutcome.NotModified
        else out.outcome
      val st1 = Schedule.next(st0, effOutcome, now, sched)
      row.copy(
        status = st1.status,
        fetchTime = st1.fetchTime,
        prevFetchTime = st1.prevFetchTime,
        fetchInterval = st1.fetchInterval,
        retries = st1.retries,
        modifiedTime = st1.modifiedTime,
        prevSignature = row.signature,
        signature =
          if (out.signature.isEmpty) row.signature else out.signature,
        reprUrl =
          if (out.redirectTo.nonEmpty &&
            (out.outcome == FetchOutcome.RedirPerm ||
              (out.outcome == FetchOutcome.Success &&
                out.refreshTime >= 0 &&
                out.refreshTime < Parse.PermRefreshTime)))
            out.redirectTo
          else row.reprUrl,
        lastBatch = out.batchId)
    }
  }

  /** A politeness queue's (crawl delay ms, lanes): the config trie's
    * values at `http://key/`, else the defaults — the one resolution
    * behind fetch's queues and hostdb's materialized columns.
    */
  def politeness(trie: graft.core.ConfigTrie, key: String,
      defaultDelay: Long, defaultLanes: Int): (Long, Int) = {
    val cfg = trie.configOrDefault(s"http://$key/")
    (if (cfg.crawlDelayMs > 0) cfg.crawlDelayMs else defaultDelay,
      if (cfg.maxConcurrent > 1) cfg.maxConcurrent else defaultLanes)
  }

  /** Per-host top-[[HostLinkTopK]] of (host, other, links) counts, ranked
    * by links desc, then other host asc.
    */
  def topLinks(links: Array[(String, String, Long)])
      : Map[String, Map[String, Long]] =
    links.groupBy(_._1).map { case (host, ls) =>
      host -> ls.sortBy(l => (-l._3, l._2)).iterator.take(HostLinkTopK)
        .map(l => l._2 -> l._3).toMap
    }
}

/** Default URL filter chain instance shared by pipeline stages. */
object UrlFilters {
  private val chain = graft.core.UrlFilterChain.default
  def accepts(url: String): Boolean = chain.accepts(url)
}

/** Politeness queue grouping (reference `fetcher.queue.mode`,
  * crawl/URLPartitioner.java:79-114: byHost / byDomain / byIP). The queue
  * key is what the fetch stage groups (and serializes politeness) on.
  */
object QueueMode {
  val ByHost = "byHost"
  val ByDomain = "byDomain"
  val ByIP = "byIP"

  def keyOf(mode: String, host: String): String = mode match {
    case ByHost => host
    case ByDomain => graft.core.Urls.domain(host)
    case ByIP => SyntheticWeb.resolveIp(host)
    case m => throw new IllegalArgumentException(s"queue mode $m")
  }
}

/** Per-bucket row-count aggregate for `observe()` on frontier writes: a
  * primitive long array buffer (one slot per bucket — ~32 KB at the
  * 4096-bucket design point), merged per task, finished into the sparse
  * `bucket -> count` map the commit log stores. Lets the write job emit
  * its own lineage counts instead of a post-write re-scan.
  */
private[crawl] final class BucketCountsAgg(nb: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Int, Array[Long], Map[String, Long]] {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import org.apache.spark.sql.Encoder

  def zero: Array[Long] = new Array[Long](nb)
  def reduce(buf: Array[Long], bucket: Int): Array[Long] = {
    buf(bucket) += 1L; buf
  }
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
  def finish(r: Array[Long]): Map[String, Long] =
    r.iterator.zipWithIndex
      .collect { case (c, b) if c > 0 => b.toString -> c }.toMap
  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}
