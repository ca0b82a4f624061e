package graft.crawl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Dataset, Encoder, SaveMode, SparkSession}
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
  *    is a sequential fold inside `flatMapGroups` (Catalyst-planned
  *    MapGroups — the reference's FetchItemQueues without threads);
  *  - parse: narrow map over the batch staging table, no shuffle;
  *  - updatedb: discovered side is pre-aggregated per URL, capping the
  *    shuffle at |distinct urls|; the topN-bounded batch side is then
  *    collected once and broadcast as variables, so every frontier probe
  *    is a membership filter over the scan — the frontier never shuffles.
  */
final class CrawlPipeline(
    @transient private val spark: SparkSession,
    root: String,
    webCfg: WebConfig = WebConfig(),
    numBuckets: Int = 32,
    scheduleCfg: ScheduleConfig = ScheduleConfig(),
    maxDepth: Int = 3,
    additionsAllowed: Boolean = true,
    useBloomSeenFilter: Boolean = true,
    configs: graft.core.ConfigTrie = graft.core.ConfigTrie.empty,
    queueMode: String = QueueMode.ByHost,
    fetchTimelimitMs: Long = -1L,
    compactEvery: Int = 4,
    fetcherOverride: Fetcher = null,
    majorEvery: Int = 8,
    noExchangeMinBytes: Long = 512L << 20,
    normalizeRules: graft.core.NormalizeRules = graft.core.NormalizeRules.none,
    scoring: ScoringFilter = ScoringFilter.Default)
    extends Serializable {

  import spark.implicits._
  import CrawlPipeline.BatchSide

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
  private val hasPerSiteCaps = configs ne graft.core.ConfigTrie.empty

  /** Bucket count of this frontier (ReadApi derives partition-pruning
    * predicates from it).
    */
  def bucketCount: Int = numBuckets

  private def snapshotDir(seq: Long): String =
    s"$root/frontier/snapshot-$seq"

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
    val seq = log.nextSeq()
    val path = snapshotDir(seq)
    commitSnapshot(seq, "b0", "inject", path, writeFrontier(rows, path), now,
      Map.empty)
    readFrontier(path)
  }

  private def writeFrontier(rows: Dataset[CrawlRow], path: String)
      : Map[String, Long] = {
    // align task partitions with bucket dirs: one file per bucket instead
    // of |tasks| x |buckets| small files (2048 -> 64 at the bench config)
    val (observed, obs) = observeBucketCounts(rows)
    observed.repartition(numBuckets, col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
    observedCounts(obs).getOrElse(footerCounts(path))
  }

  /** Attach a per-bucket row-count observation to a frontier write plan.
    * The commit log's partition counts come from the WRITE PASS itself —
    * a snapshot write must not be followed by a full re-scan of the bytes
    * just written only to count them (at the 10^10-row/2 TB design point
    * that re-scan doubles every compaction's I/O).
    */
  private def observeBucketCounts(rows: Dataset[CrawlRow])
      : (Dataset[CrawlRow], org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val agg = udaf(new BucketCountsAgg(numBuckets))
    (rows.observe(obs, agg(col("bucket")).as("bucketCounts")), obs)
  }

  /** Resolve an observed bucket-count map. Fallback (never expected, but
    * an Observation that misses its listener event would block forever):
    * parquet FOOTER row counts per bucket dir — metadata reads only,
    * still no data re-scan.
    */
  private def observedCounts(obs: org.apache.spark.sql.Observation)
      : Option[Map[String, Long]] =
    observedRow(obs).map(
      _.getAs[scala.collection.Map[String, Long]]("bucketCounts").toMap)

  /** Resolve an observation row (30 s guard against a lost listener
    * event — same rationale as observedCounts). Round-7: every stage's
    * commit counts now ride the stage's own write job via observe()
    * instead of a post-write read-back action; locally that removes one
    * Spark job per stage, at scale it removes a re-scan of bytes the
    * stage just wrote.
    */
  private def observedRow(obs: org.apache.spark.sql.Observation)
      : Option[org.apache.spark.sql.Row] =
    try
      Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "s")))
    catch {
      case _: java.util.concurrent.TimeoutException => None
    }

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
    * parsed, payload, hostdb, bloom sidecar) with the schema its writer
    * used. A schema-less read would run a one-task footer-inference job
    * per table per read.
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

  /** Latest version of each key across an ordered list of delta frames
    * (later frames win) — the chain fold shared by the MoR view and
    * `foldChain`. Shuffle is DELTA-sized (topN-bounded per frame).
    */
  private def latestOf(frames: Seq[Dataset[CrawlRow]]): Dataset[CrawlRow] = {
    // single-frame fold is the identity: every delta is written as
    // `changed union newRows` — changed rows exist in the frontier, new
    // rows do not, and each side is unique by urlHash — so the
    // dedup window (a full shuffle of the delta) only matters across
    // frames. With compactEvery=1 every compaction folds exactly one
    // frame; skipping the no-op window removes one exchange per batch.
    if (frames.lengthCompare(1) == 0) return frames.head
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("urlHash")).orderBy(col("_dseq").desc)
    frames.zipWithIndex
      .map { case (ds, i) => ds.withColumn("_dseq", lit(i)) }
      .reduce(_ unionByName _)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_dseq")
      .as[CrawlRow]
  }

  /** Resolve a commit's frontier view — Iceberg merge-on-read semantics:
    * base snapshot minus keys present in any delta, union the latest
    * delta version of each key. The delta chain is bounded by
    * `compactEvery`, so the delta union (and the anti-join's broadcast
    * side) stays topN-bounded; the base scan remains untouched columnar
    * parquet. A full snapshot (no deltas) reads directly.
    */
  private[crawl] def viewOf(c: Commit): Dataset[CrawlRow] = {
    if (c.deltas.isEmpty) readFrontier(c.frontierPath)
    else {
      val latest = latestOf(c.deltas.map(readFrontier))
      // unionByName: a partitionBy-layout base read appends `bucket` last,
      // while delta files carry case-class column order
      readFrontier(c.frontierPath)
        .join(broadcast(latest.select(col("urlHash"))), Seq("urlHash"),
          "left_anti")
        .unionByName(latest.toDF())
        .as[CrawlRow]
    }
  }

  /** Compaction snapshot write WITHOUT the full-width exchange (the
    * measured scaling soft spot of round 2: repartitioning every frontier
    * row for the snapshot write was memory-bandwidth bound at 0.54-0.62
    * efficiency). The base scan's tasks are already bucket-aligned — each
    * parquet split holds rows of exactly one `bucket=N` directory — so
    * untouched rows stream scan->writer with no exchange; only the folded
    * delta (topN-bounded) pays a small repartition and is APPENDED into
    * the same partition layout.
    *
    * Trade-off: each minor compaction adds ~numBuckets delta files to the
    * snapshot instead of rewriting one file per bucket; `majorEvery`
    * bounds the growth — every majorEvery-th compaction bin-packs through
    * the full exchange (Iceberg's minor/major compaction split).
    */
  private def writeSnapshotNoExchange(baseUntouched: Dataset[CrawlRow],
      latest: Dataset[CrawlRow], path: String, basePath: String)
      : Map[String, Long] = {
    // Size the scan splits from the BASE SNAPSHOT size so scan
    // parallelism replaces exchange parallelism at every scale: with the
    // default 128MB maxPartitionBytes a small frontier packs many bucket
    // files into ONE task, which (a) single-threads the write and (b)
    // makes the dynamic-partition writer sort mixed-bucket rows per task
    // (measured: the "exchange-free" compaction slower than the exchange
    // at bench scale). One-file-per-task splits keep each task on a
    // single bucket: constant-key sort, one output file, full
    // parallelism.
    val conf = spark.conf
    val prevMax = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    val targetSplits =
      math.max(1, 4 * spark.sparkContext.defaultParallelism)
    val per = math.max(1L << 20,
      math.min(128L << 20, dirBytes(basePath) / targetSplits))
    try {
      conf.set("spark.sql.files.maxPartitionBytes", per.toString)
      // counts ride on the two write passes (observe) — summing the two
      // observations replaces the full-table re-scan this writer exists
      // to avoid paying
      val (obsBase, o1) = observeBucketCounts(baseUntouched)
      obsBase
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
      val (obsLatest, o2) = observeBucketCounts(latest)
      obsLatest.repartition(math.max(1, numBuckets / 8), col("bucket"))
        .write.mode(SaveMode.Append).partitionBy("bucket").parquet(path)
      (observedCounts(o1), observedCounts(o2)) match {
        case (Some(base), Some(app)) =>
          app.foldLeft(base) { case (acc, (b, c)) =>
            acc.updated(b, acc.getOrElse(b, 0L) + c)
          }
        case _ => footerCounts(path)
      }
    } finally conf.set("spark.sql.files.maxPartitionBytes", prevMax)
  }

  private def dirBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.getContentSummary(p).getLength catch { case _: Exception => 0L }
  }

  /** True when the NEXT compaction should bin-pack (major). */
  private def nextCompactionIsMajor(): Boolean = {
    val n = log.commits().count(c =>
      c.stage == "compact" || c.metrics.contains("compacted"))
    majorEvery > 0 && n % majorEvery == majorEvery - 1
  }

  /** Exchange-free compaction pays fixed overheads (a second write job,
    * the persisted chain fold) that only amortize once the avoided
    * exchange is big enough. Measured on this box at 4 cores (write
    * pattern alone): 66MB base — exchange wins 2.7s vs 5.3s; 178MB —
    * parity; 534MB — no-exchange wins 4.5s vs 7.6s; 1.8GB — 14s vs
    * 18-24s. Below the threshold the snapshot is small enough that the
    * exchange IS the parallelizer and costs nothing; above it, the
    * no-exchange path's scan-parallel write wins and keeps winning as
    * size grows (at the 10^10-row/2TB design point the exchange would
    * serialize the whole frontier through shuffle files).
    */
  private def useNoExchangeCompaction(basePath: String): Boolean =
    dirBytes(basePath) >= noExchangeMinBytes

  /** The current frontier state as a Dataset (test/ops surface). */
  def frontierState(): Dataset[CrawlRow] =
    viewOf(lastState().getOrElse(
      throw new IllegalStateException("no frontier committed yet")))

  /** Compact the delta chain into a full snapshot (the Iceberg MoR
    * compaction job). No-op when the state is already a full snapshot.
    */
  def compact(now: Long): Unit =
    lastState().filter(_.deltas.nonEmpty).foreach { c =>
      val seq = log.nextSeq()
      val t0 = System.nanoTime()
      val (path, counts, _) =
        foldChain(seq, c.frontierPath, c.deltas.map(readFrontier))
      commitSnapshot(seq, c.batchId, "compact", path, counts, now,
        Map("compactWallMs" -> (System.nanoTime() - t0) / 1e6))
    }

  /** Fold a delta chain (ordered frames, later wins) over the base
    * snapshot at `basePath` into the full snapshot of `seq` — the one
    * chain compaction behind both `compact` and updatedb's compacting
    * merge. Minor by default: untouched base rows stream scan->writer
    * bucket-aligned with NO exchange; only the folded chain (topN-bounded)
    * shuffles. Every majorEvery-th compaction, and any base below
    * `noExchangeMinBytes`, goes through the full exchange instead.
    * Returns the snapshot path, its per-bucket counts and whether the
    * compaction was major. The name holds no stage name, so per-stage
    * tracing charges its Spark jobs to the calling stage.
    */
  private def foldChain(seq: Long, basePath: String,
      chain: Seq[Dataset[CrawlRow]])
      : (String, Map[String, Long], Boolean) = {
    val path = snapshotDir(seq)
    // persisted: the folded chain feeds TWO jobs (base anti-join keys +
    // its own append) — without it the whole chain lineage would
    // recompute per job
    val latest = latestOf(chain)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val baseUntouched = readFrontier(basePath)
      .join(broadcast(latest.select(col("urlHash"))), Seq("urlHash"),
        "left_anti")
      .as[CrawlRow]
    val major = nextCompactionIsMajor()
    val counts =
      if (major || !useNoExchangeCompaction(basePath))
        writeFrontier(baseUntouched.unionByName(latest), path)
      else writeSnapshotNoExchange(baseUntouched, latest, path, basePath)
    latest.unpersist()
    (path, counts, major)
  }

  /** Commit a full snapshot together with one fresh bloom generation over
    * it: inject and every compaction reset the bloom chain (the only full
    * bloom builds). The build is timed apart from the stage's own work
    * (`bloomWallMs`), so the commit attributes sidecar cost directly.
    */
  private def commitSnapshot(seq: Long, batchId: String, stage: String,
      path: String, counts: Map[String, Long], now: Long,
      metrics: Map[String, Double]): Commit = {
    val tB = System.nanoTime()
    // sidecars only when the seen-filter is on — a pipeline that always
    // probes every discovered key must not pay bloom builds it never reads
    val bloomPaths =
      if (useBloomSeenFilter)
        Seq(writeBlooms(readFrontier(path), s"$root/blooms/$seq",
          counts.values.sum))
      else Nil
    commitStage(seq, batchId, stage, path, counts, now,
      metrics + ("bloomWallMs" -> (System.nanoTime() - tB) / 1e6),
      bloomPaths = bloomPaths)
  }

  private def commitStage(seq: Long, batchId: String, stage: String,
      frontierPath: String, partCounts: Map[String, Long], now: Long,
      metrics: Map[String, Double] = Map.empty,
      deltaPaths: Seq[String] = Nil,
      bloomPaths: Seq[String] = Nil): Commit =
    log.append(Commit(seq, batchId, stage, "complete", frontierPath,
      partCounts.values.sum, partCounts, metrics, now, deltaPaths,
      bloomPaths))

  /** Build per-bucket URL-seen bloom filters over `rows` and persist
    * them as a (bucket, bytes) parquet sidecar. Built DISTRIBUTED (each
    * task folds its slice into local filters; a bucket may yield several
    * partial filters — membership is exists(_), exactness never depends
    * on them). `expectedKeys` sizes the filters; an under-estimate only
    * raises the false-positive rate, which just sends more keys through
    * the exact probe. Maintained INCREMENTALLY: inject writes the first
    * generation, each batch appends a delta-sized one, compaction
    * rebuilds one — so no batch re-scans the frontier to build filters.
    */
  private def writeBlooms(rows: Dataset[CrawlRow], path: String,
      expectedKeys: Long): String = {
    import org.apache.spark.util.sketch.BloomFilter
    val perBucketExpected =
      math.max(64L, 2L * expectedKeys / math.max(1, numBuckets))
    rows.select(col("bucket"), col("urlHash")).as[(Int, Long)]
      .mapPartitions { it =>
        val fs = scala.collection.mutable.Map[Int, BloomFilter]()
        it.foreach { case (b, h) =>
          fs.getOrElseUpdate(b,
            BloomFilter.create(perBucketExpected, 0.03)).putLong(h)
        }
        fs.iterator.map { case (b, f) =>
          val bos = new java.io.ByteArrayOutputStream()
          f.writeTo(bos)
          BloomPart(b, bos.toByteArray)
        }
      }
      // repartition (NOT coalesce): a coalesce(1) here is a narrow
      // dependency that would collapse the whole scan+fold into ONE task
      // holding every bucket's filter; the shuffle barrier keeps the fold
      // distributed and only the small serialized filters move to the
      // single writer task
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
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
    val listFinal = fetchlistPlan(frontier, batchId, now, topN, maxPerHost)

    val path = s"$root/batches/$batchId/fetchlist"
    val t0 = System.nanoTime()
    // limit() collapses to one partition; spread the fetchlist by host so
    // the fetch stage's shuffle-write side is parallel, not one task.
    // Counts observe() the write itself — no read-back count job.
    val (observed, obs) = observeBucketCounts(listFinal)
    observed.repartition(numBuckets, col("host"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    val generateWallMs = (System.nanoTime() - t0) / 1e6
    val out = readFrontier(path)
    val counts = observedCounts(obs).getOrElse(
      out.groupBy("bucket").count().as[(Int, Long)].collect()
        .map { case (b, c) => b.toString -> c }.toMap)
    commitStage(log.nextSeq(), batchId, "generate",
      lastState().map(_.frontierPath).getOrElse(""), counts, now,
      metrics = Map("generateWallMs" -> generateWallMs))
    out
  }

  /** The fetchlist as an UNEXECUTED plan (split from [[generate]] so specs
    * can assert on its physical shape: with no per-site config the whole
    * chain — eligibility cascade, per-host cap, topN, lastBatch stamp —
    * must plan with zero `DeserializeToObject` over the frontier).
    */
  private[crawl] def fetchlistPlan(frontier: Dataset[CrawlRow],
      batchId: String, now: Long, topN: Int, maxPerHost: Int)
      : Dataset[CrawlRow] = {
    val retryMax = scheduleCfg.retryMax
    val maxIntervalMs = scheduleCfg.maxIntervalSec * 1000L
    val clampedInterval = (scheduleCfg.maxIntervalSec * 0.9).toInt
    val depthCap = maxDepth
    val trie = trieBc

    // F1 eligibility cascade + O3 max-interval clamp. With no per-site
    // config (the common full-scale case) every check is a pure Column
    // expression, so the ONLY per-batch full-frontier pass stays inside
    // WholeStageCodegen with no object decode. The trie path keeps the
    // typed cascade (F4/F5: depth override + per-node sub-filters); a
    // parity spec pins the two forms row-for-row.
    val eligible: Dataset[CrawlRow] = if (!hasPerSiteCaps) {
      val overdue = col("fetchTime") - lit(now) > lit(maxIntervalMs)
      frontier
        .filter(col("status") =!= lit(CrawlStatus.Gone) &&
          col("retries") <= lit(retryMax) &&
          col("distance") <= lit(depthCap) &&
          (col("fetchTime") <= lit(now) || overdue))
        // order matters: rewrite fetchInterval while fetchTime still holds
        // the original value `overdue` tests, then clamp fetchTime
        .withColumn("fetchInterval",
          when(overdue, lit(clampedInterval)).otherwise(col("fetchInterval")))
        .withColumn("fetchTime",
          when(overdue, lit(now)).otherwise(col("fetchTime")))
        .as[CrawlRow]
    } else frontier.flatMap { r =>
      val cfg = trie.value.configOrDefault(r.url)
      val effDepth =
        if (cfg.fetchDepth != Int.MaxValue) cfg.fetchDepth else depthCap
      if (r.status == CrawlStatus.Gone) None
      else if (r.retries > retryMax) None
      else if (r.distance > effDepth) None
      else if (!cfg.acceptsSub(r.url)) None
      else if (r.fetchTime - now > maxIntervalMs)
        Some(r.copy(fetchInterval = clampedInterval, fetchTime = now))
      else if (r.fetchTime <= now) Some(r)
      else None
    }

    // A2 per-host cap via ranked window (per-config onceCount override),
    // then exact global topN (O1+O2). With no per-site caps the rank
    // filter is a LITERAL, which Catalyst rewrites into WindowGroupLimit
    // (partial top-k BEFORE the window shuffle — the frontier never
    // shuffles un-capped rows); per-site caps fall back to a column
    // filter bounded by the trie's max cap so the pushdown still prunes.
    val defaultCap = maxPerHost
    // ScoringFilter generatorSortValue: ranking/selection Column (Default
    // = the score itself, so the default plan is unchanged)
    val sortVal = scoring.generatorSortValue(col("score"))
    val list = if (!hasPerSiteCaps) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(sortVal.desc, col("url").asc)
      eligible
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= defaultCap)
        .drop("rn")
    } else {
      val withCap = eligible.map { r =>
        val cfg = trie.value.configOrDefault(r.url)
        (r, if (cfg.maxPerHost > 0) cfg.maxPerHost else defaultCap)
      }.withColumnRenamed("_1", "row").withColumnRenamed("_2", "cap")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("row.host"))
        .orderBy(scoring.generatorSortValue(col("row.score")).desc,
          col("row.url").asc)
      withCap
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("cap"))
        .select(col("row.*"))
    }
    // lastBatch stamp as a literal column (not a typed map) — keeps the
    // tail of the plan object-free too
    list
      .orderBy(sortVal.desc, col("url").asc)
      .limit(topN)
      .withColumn("lastBatch", lit(batchId))
      .as[CrawlRow]
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

    // J2 host-settings lookup join: politeness settings come from the
    // LATEST hostdb snapshot (the reference's HostDb.getByHostName LRU,
    // host/HostDb.java:41-110), restricted to the batch's own queue keys
    // before collection so the broadcast is fetchlist-bounded (<= topN
    // keys), never |all hosts|. Unseen keys (batch 1, new hosts) fall
    // back to the config trie — same values by construction.
    //
    // The hostdb is keyed by HOST, so the lookup applies in byHost queue
    // mode ONLY: a byDomain/byIP queue spans several hostdb rows whose
    // settings the scheduler contract (and the simulator oracle) resolves
    // from the config trie at the QUEUE key, not from any per-host
    // aggregate — so those modes skip the hostdb read explicitly instead
    // of silently never matching on it.
    val hostSettings: Map[String, (Long, Int)] =
      if (mode != QueueMode.ByHost) Map.empty
      else log.lastOf("hostdb") match {
        case Some(c) =>
          val keys = fetchlist
            .map(r => QueueMode.keyOf(mode, r.host)).distinct().toDF("host")
          readAs[HostRow](c.frontierPath)
            .join(broadcast(keys), Seq("host"))
            .select(col("host"), col("crawlDelayMs"), col("maxConcurrent"))
            .as[(String, Long, Int)].collect()
            .map(r => r._1 -> (r._2, r._3)).toMap
        case None => Map.empty
      }
    val hsBc = spark.sparkContext.broadcast(hostSettings)

    // groupByKey inserts one hash exchange on the queue key — the
    // politeness partitioner (reference URLPartitioner byHost/byDomain/
    // byIP). NOTE: AQE's post-shuffle coalescing must stay OFF for this
    // stage: rows are tiny but rows-per-second is compute-bound (image
    // decode/encode), and byte-based coalescing collapses it to one task
    // (measured: identical 24.8s fetch wall at 2 and 32 cores with
    // coalescing on).
    val sortSc = scoring
    val results = fetchlist
      .groupByKey(r => QueueMode.keyOf(mode, r.host))
      .flatMapGroups { (qkey, rows) =>
        // O5 in-queue order: generator sort value desc, url asc — under a
        // custom ScoringFilter the fetch order follows the same value the
        // generate rank used (Default = raw score, unchanged plan)
        val sorted = rows.toArray
          .sortBy(r => (-sortSc.generatorSortValueScalar(r.score), r.url))
        // robots cache: one lookup per HOST in the queue group == the
        // per-executor LRU in the reference (robots stay per-host even
        // when the politeness queue is per-domain/IP)
        val rulesOf = scala.collection.mutable.Map[String, RobotRules]()
        // queue politeness settings: hostdb row for the queue key, else
        // the config trie at the queue key (J2/J3)
        val (crawlDelay, lanes) = hsBc.value.getOrElse(qkey, {
          val qCfg = trie.value.configOrDefault(s"http://$qkey/")
          (if (qCfg.crawlDelayMs > 0) qCfg.crawlDelayMs else defaultDelay,
            if (qCfg.maxConcurrent > 1) qCfg.maxConcurrent else defaultLanes)
        })
        val laneAvail = Array.fill(lanes)(now)
        sorted.iterator.flatMap[FetchResult] { r =>
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
            // for its host above the config/hostdb delay (reference
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

    val path = s"$root/batches/$batchId/fetched"
    val t0 = System.nanoTime()
    // content bytes are jpeg/png/gzip — already entropy-coded; parquet
    // snappy on top is pure CPU/allocation overhead on the widest write,
    // and dictionary-encoding unique binaries is wasted hashing
    val obsF = org.apache.spark.sql.Observation()
    results.observe(obsF, count(lit(1)).as("n"),
        max(col("fetchEnd")).as("maxEnd"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "uncompressed")
      .option("parquet.enable.dictionary", "false").parquet(path)
    val fetchWallMs = (System.nanoTime() - t0) / 1e6
    val out = readAs[FetchResult](path)
    val (n, maxEnd) = observedRow(obsF)
      .map(r => (r.getAs[Long]("n"),
        Option(r.getAs[java.lang.Long]("maxEnd")).map(_.toLong)
          .getOrElse(0L)))
      .getOrElse(out.agg(count(lit(1)), max(col("fetchEnd")))
        .as[(Long, Long)].head())
    val vWall = maxEnd - now
    commitStage(log.nextSeq(), batchId, "fetch", path,
      Map("all" -> n), now,
      Map("pages" -> n.toDouble,
        "fetchWallMs" -> fetchWallMs,
        "virtualWallMs" -> vWall.toDouble,
        "virtualPagesPerSec" ->
          (if (vWall > 0) n * 1000.0 / vWall else 0.0)))
    out
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
    val path = s"$root/batches/$batchId/parsed"
    val t0 = System.nanoTime()
    val obsP = org.apache.spark.sql.Observation()
    out.observe(obsP, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    val parseWallMs = (System.nanoTime() - t0) / 1e6
    val res = readAs[ParsedPage](path)
    val n = observedRow(obsP).map(_.getAs[Long]("n")).getOrElse(res.count())
    commitStage(log.nextSeq(), batchId, "parse", path,
      Map("all" -> n), now, Map("parseWallMs" -> parseWallMs))
    res
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
    val path = s"$root/batches/$batchId/payload"
    val obsY = org.apache.spark.sql.Observation()
    out.observe(obsY, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "uncompressed").parquet(path) // encoded bytes
    val res = readAs[PayloadRow](path)
    val n = observedRow(obsY).map(_.getAs[Long]("n")).getOrElse(res.count())
    commitStage(log.nextSeq(), batchId, "payload", path,
      Map("all" -> n), now)
    res
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
    * D1 URL-seen set: the bloom sidecars (see [[writeBlooms]]) only
    * narrow the exact probe's key set to the maybe-seen discoveries; new
    * rows are the discoveries the probe finds absent. The commit records
    * the gate's maybe-seen and false-positive rates.
    */
  def updatedb(frontier: Dataset[CrawlRow], parsed: Dataset[ParsedPage],
      batchId: String, now: Long): Dataset[CrawlRow] = {
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
    // Persisted: the side collect materializes it, the new rows read it
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

    // mergeWallMs covers all of the merge's Spark work, side included
    val t0 = System.nanoTime()
    val outcomes = parsed
      .select(col("urlHash"), col("outcome"),
        coalesce(col("signature"), lit(Array.emptyByteArray))
          .as("signature"),
        col("batchId"), coalesce(col("redirectTo"), lit("")).as("redirectTo"),
        col("refreshTime"))
      .as[Outcome].collect()
    val disc = discAgg
      .select(col("urlHash"), col("bucket"), col("distance"), col("contrib"))
      .as[(Long, Int, Int, Float)].collect()
    val sctx = spark.sparkContext
    val side = sctx.broadcast(BatchSide(
      outcomes.iterator.map(o => o.urlHash -> o).toMap,
      disc.iterator.map(d => d._1 -> ((d._3, d._4))).toMap))

    // the keys the exact probe checks: every discovered key, or only the
    // bloom gate's maybe-seen ones
    val prev = lastState()
    val bloomChain = prev.map(_.blooms).getOrElse(Nil)
    val gated = additionsAllowed && useBloomSeenFilter &&
      bloomChain.nonEmpty && disc.nonEmpty
    val maybeSeen: Set[Long] =
      if (gated) bloomMaybeSeen(bloomChain,
        disc.groupBy(_._2).map { case (b, ds) => b -> ds.map(_._1) })
      else if (additionsAllowed) disc.iterator.map(_._1).toSet
      else Set.empty
    val probe = sctx.broadcast(maybeSeen)
    val present = sctx.broadcast(
      if (maybeSeen.isEmpty) Set.empty[Long]
      else presentKeys(frontier, probe).collect().toSet)
    val bloomMetrics =
      if (!gated) Map.empty[String, Double]
      else {
        val negatives = disc.length - present.value.size
        Map("bloomMaybeSeenRate" -> maybeSeen.size.toDouble / disc.length,
          "bloomFalsePositiveRate" ->
            (if (negatives == 0) 0.0
            else (maybeSeen.size - present.value.size).toDouble / negatives))
      }

    val newRows =
      if (!additionsAllowed) spark.emptyDataset[CrawlRow]
      else discAgg
        .filter(!keyIn(present)(col("urlHash")) &&
          col("distance") <= lit(depthCap))
        .map { d =>
          // F4: per-site custom score/interval for newly discovered rows
          val cfg = trie.value.configOrDefault(d.url)
          Keys.rowOf(d.url, nb, now,
            score = sc.newRowScore(d.url, d.contrib, cfg.customScore),
            distance = d.distance,
            intervalSec =
              if (cfg.customIntervalSec > 0) cfg.customIntervalSec
              else sched.defaultIntervalSec,
            anchor = d.anchor)
        }

    // Snapshot strategy (Iceberg merge-on-read, emulated): each batch
    // writes a DELTA of changed+new rows (topN-bounded — never the
    // frontier), and every `compactEvery`-th batch compacts the chain
    // into a full bucket-partitioned snapshot. Round 1's full rewrite per
    // batch made the snapshot exchange the merge stage's scaling
    // bottleneck (0.60 efficiency); here the per-batch merge cost is
    // O(delta) and the full-width exchange is amortized over the chain.
    val basePath = prev.map(_.frontierPath).getOrElse("")
    val chain = prev.map(_.deltas).getOrElse(Nil)
    val seq = log.nextSeq()
    val delta = mergeTouched(frontier, side, now).union(newRows)
    val result =
      if (chain.size >= compactEvery - 1) {
        // compacting merge: fold the chain + this batch into a full
        // snapshot
        val (path, counts, major) =
          foldChain(seq, basePath, chain.map(readFrontier) :+ delta)
        commitSnapshot(seq, batchId, "updatedb", path, counts, now,
          bloomMetrics ++ Map(
            "mergeWallMs" -> (System.nanoTime() - t0) / 1e6,
            "compacted" -> (if (major) 2.0 else 1.0)))
      } else {
        val deltaPath = s"$root/frontier/delta-$seq"
        // lineage counts for a delta commit describe the DELTA files — no
        // extra full-view pass per batch, and the counts ride on the
        // write itself (observe). rowCount upper-bounds the logical state
        // (prev total + delta rows; touched rows double in the bound) —
        // its only consumer is bloom sizing, where an over-estimate just
        // lowers the fpp.
        val (obsDelta, oD) = observeBucketCounts(delta)
        obsDelta.repartition(math.max(1, numBuckets / 8), col("bucket"))
          .write.mode(SaveMode.Overwrite).parquet(deltaPath)
        val mergeMs = (System.nanoTime() - t0) / 1e6
        // fallback re-scan is DELTA-sized (topN-bounded), never the view
        val deltaCounts = observedCounts(oD).getOrElse(
          readFrontier(deltaPath).groupBy(col("bucket")).count()
            .as[(Int, Long)].collect()
            .map { case (b, c) => b.toString -> c }.toMap)
        val total = prev.map(_.rowCount).getOrElse(0L) + deltaCounts.values.sum
        // incremental seen-set: a delta-sized bloom generation over this
        // batch's delta rows (changed rows re-add already-seen keys —
        // a harmless superset) appended to the chain
        val tB = System.nanoTime()
        val blooms =
          if (!useBloomSeenFilter) Nil
          else bloomChain :+ writeBlooms(readFrontier(deltaPath),
            s"$root/blooms/$seq", deltaCounts.values.sum)
        log.append(Commit(seq, batchId, "updatedb", "complete", basePath,
          total, deltaCounts,
          bloomMetrics ++ Map("mergeWallMs" -> mergeMs,
            "bloomWallMs" -> (System.nanoTime() - tB) / 1e6),
          now, chain :+ deltaPath, blooms))
      }
    discAgg.unpersist()
    Seq(side, probe, present).foreach(_.destroy())
    viewOf(result)
  }

  /** The D1 bloom gate: one narrow pass over the sidecar `chain` probes
    * each filter with its bucket's keys and collects the maybe-seen ones.
    * A key lives in >= 1 generation, so a key it drops is not a frontier
    * key; the chain's unioned fpp (~0.03 * chain) only widens the output.
    */
  private def bloomMaybeSeen(chain: Seq[String],
      keysByBucket: Map[Int, Array[Long]]): Set[Long] = {
    val keys = spark.sparkContext.broadcast(keysByBucket)
    try chain.map(readAs[BloomPart]).reduce(_ union _)
      .flatMap { p =>
        keys.value.get(p.bucket).fold(Iterator.empty[Long]) { ks =>
          val f = org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(p.bytes))
          ks.iterator.filter(f.mightContain)
        }
      }
      .collect().toSet
    finally keys.destroy()
  }

  /** A filter predicate: the key column is in the broadcast key set. */
  private def keyIn(keys: Broadcast[Set[Long]]): Column => Column = {
    val f = udf((h: Long) => keys.value.contains(h))
    c => f(c)
  }

  /** The exact D1 seen-check: which of the broadcast `keys` are frontier
    * keys, by a membership filter over the scan (plan spec-pinned).
    */
  private[crawl] def presentKeys(frontier: Dataset[CrawlRow],
      keys: Broadcast[Set[Long]]): Dataset[Long] =
    frontier.select(col("urlHash")).filter(keyIn(keys)(col("urlHash")))
      .as[Long]

  /** The touched frontier rows (fetched or rediscovered this batch),
    * selected by a membership filter over the scan (plan spec-pinned) and
    * merged in executors by [[CrawlPipeline.mergeRow]]. The ScoringFilter
    * updateDbScore hook follows as a columnar step whose `contrib` is a
    * lookup in the same side (null when not rediscovered); filters that
    * keep stored scores, like Default, skip it.
    */
  private[crawl] def mergeTouched(frontier: Dataset[CrawlRow],
      side: Broadcast[BatchSide], now: Long): Dataset[CrawlRow] = {
    val trie = trieBc
    val sched = scheduleCfg
    val perSiteIntervals = hasPerSiteCaps
    val touches = udf((h: Long) => side.value.touches(h))
    val merged = frontier.filter(touches(col("urlHash"))).map { r =>
      val s = side.value
      val out = s.outcomes.getOrElse(r.urlHash, null)
      val ci =
        if (out == null || !perSiteIntervals) 0
        else trie.value.configOrDefault(r.url).customIntervalSec
      CrawlPipeline.mergeRow(r, out,
        s.disc.get(r.urlHash).fold(Int.MaxValue)(_._1), ci, now, sched)
    }
    if (!scoring.updatesExistingScores) merged
    else {
      val contrib = udf((h: Long) =>
        side.value.disc.get(h).map(d => java.lang.Float.valueOf(d._2)).orNull)
      merged
        .withColumn("score", scoring
          .updateExistingScore(col("score"), contrib(col("urlHash")))
          .cast("float"))
        .as[CrawlRow]
    }
  }

  // --------------------------------------------------------------- hostdb

  /** Materialize the hostdb from the merged frontier (A3/J2 — reference
    * host/HostDbUpdateJob.java:62-71 + HostDbUpdateReducer.java:39-80:
    * per-host page/fetched counts; storage/Host.java per-host politeness
    * keys q_cd/q_mt read by the fetcher at FetcherReducer.java:363-387).
    * Stats aggregate map-side (hash partial agg) so the exchange carries
    * |hosts| rows, not |frontier|; the effective politeness settings are
    * materialized from the config trie so the NEXT batch's fetch reads
    * them as a bounded table lookup. A3 link-host histograms
    * (HostDbUpdateReducer.java:46-72): the batch's (srcHost, dstHost) link
    * counts, bounded by its outlinks, are collected; the top-K of each
    * direction fills in the one map over the stats aggregate.
    */
  def hostdb(frontier: Dataset[CrawlRow], batchId: String, now: Long,
      parsed: Dataset[ParsedPage] = null): Dataset[HostRow] = {
    val trie = trieBc
    val defaultDelay = webCfg.crawlDelayMs
    val defaultLanes = math.max(1, webCfg.maxConcurrent)
    val links: Array[(String, String, Long)] =
      if (parsed == null) Array.empty
      else {
        val hostOf = udf((u: String) => Urls.host(u))
        parsed
          .select(col("host").as("src"),
            explode(map_keys(col("outlinks"))).as("dst"))
          .groupBy(col("src"), hostOf(col("dst")).as("dst"))
          .agg(count(lit(1)))
          .as[(String, String, Long)].collect()
      }
    val hists = spark.sparkContext.broadcast((
      CrawlPipeline.topLinks(links.map(l => (l._2, l._1, l._3))),
      CrawlPipeline.topLinks(links)))
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
        val cfg = trie.value.configOrDefault(s"http://$host/")
        val (in, outH) = hists.value
        HostRow(host, pages, fetched, gone, unf, avgS, maxD,
          if (cfg.crawlDelayMs > 0) cfg.crawlDelayMs else defaultDelay,
          if (cfg.maxConcurrent > 1) cfg.maxConcurrent else defaultLanes,
          in.getOrElse(host, Map.empty), outH.getOrElse(host, Map.empty),
          batchId)
      }
    val path = s"$root/hostdb/$batchId"
    val obsH = org.apache.spark.sql.Observation()
    out.observe(obsH, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    hists.destroy()
    val res = readAs[HostRow](path)
    val n = observedRow(obsH).map(_.getAs[Long]("n")).getOrElse(res.count())
    commitStage(log.nextSeq(), batchId, "hostdb", path,
      Map("all" -> n), now)
    res
  }

  // ----------------------------------------------------------------- loop

  /** Drive `depth` generate->fetch->updatedb batches (reference:
    * Crawler.java:168-224 depth loop; T1 micro-batch trigger). Resumes
    * from the commit log: completed stages of a crashed batch are reused,
    * not re-run (T2 — the ZK step gate as commit-log reads).
    */
  def runBatches(depth: Int, topN: Int, maxPerHost: Int,
      startTime: Long = 1700000000000L): Dataset[CrawlRow] = {
    // the frontier VIEW is consumed by generate, updatedb's frontier
    // probe and merge, and hostdb — cache each view once instead of
    // re-resolving base ∖ deltas per consumer. The returned view stays
    // cached.
    var frontier = (lastState() match {
      case Some(c) => viewOf(c)
      case None =>
        inject(SyntheticWeb.seeds(webCfg), startTime)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val committed = log.commits().map(c => (c.batchId, c.stage)).toSet
    for (i <- 1 to depth) {
      val batchId = s"b$i"
      if (!committed((batchId, "updatedb"))) {
        val now = startTime + i * 3600000L // 1h virtual tick per batch
        // T2 step gate: a committed stage is never re-run — resume picks
        // up the staged parquet exactly where the crash left off
        val list =
          if (committed((batchId, "generate")))
            readFrontier(s"$root/batches/$batchId/fetchlist")
          else generate(frontier, batchId, now, topN, maxPerHost)
        // T2: empty step => skip remaining stages (exitValue=2 analog).
        // The generate commit (this batch's, fresh or resumed) holds the
        // fetchlist size observed on its write — no count job
        if (log.lastOf("generate").exists(_.rowCount > 0)) {
          val fetched =
            if (committed((batchId, "fetch")))
              readAs[FetchResult](s"$root/batches/$batchId/fetched")
            else fetch(list, batchId, now)
          val parsedRows =
            if (committed((batchId, "parse")))
              readAs[ParsedPage](s"$root/batches/$batchId/parsed")
            else parse(fetched, batchId, now)
          if (!committed((batchId, "payload"))) payloads(fetched, batchId, now)
          val next = updatedb(frontier, parsedRows, batchId, now)
          next.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          frontier.unpersist()
          frontier = next
          hostdb(frontier, batchId, now, parsedRows)
        }
      }
    }
    frontier
  }
}

object CrawlPipeline {

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
