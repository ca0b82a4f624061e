package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.CrawlStatus
import graft.crawl.{Commit, CommitLog, CrawlPipeline, CrawlRow, SyntheticWeb, WebConfig}
import graft.operators._

/** What one pass of a workload produced.
  *
  * @param wallS    the timed end-to-end call(s) of the pass
  * @param rate     work items per second of `wallS`
  * @param layer    benchmark-side per-layer inputs (windows, counts)
  */
final case class PassResult(wallS: Double, rate: Double, storeBytes: Long,
    attempted: Int, failed: Int, failures: Seq[String],
    layer: Map[String, Double])

trait Workload {
  def pass(): PassResult

  /** The untimed cold pass that warms the JIT and Spark's code cache;
    * returns (operations attempted, failure messages).
    */
  def warmUp(): (Int, Seq[String]) = {
    val p = pass()
    (p.attempted, p.failures)
  }
}

object Workload {
  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Unpersist every cached RDD; returns how many were left. */
  def releaseCaches(spark: SparkSession): Int = {
    val leaked = spark.sparkContext.getPersistentRDDs.values.toSeq
    leaked.foreach(_.unpersist(blocking = true))
    leaked.size
  }
}

/** Sizes of one crawl workload. Host and page identities and scores are
  * drawn from the seed; the counts are fixed so every seed does the same
  * amount of work.
  */
final case class CrawlSpec(web: WebConfig, seedHosts: Int, seedPagesPerHost: Int,
    depth: Int, topN: Int, maxPerHost: Int) {

  /** Seed lines `url \t nutch.score=F`, one per distinct seed-drawn page. */
  def seedLines(seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    val hosts = rnd.shuffle((0 until web.numHosts).toVector).take(seedHosts)
    hosts.flatMap { h =>
      rnd.shuffle((0 until web.pagesPerHost).toVector).take(seedPagesPerHost)
        .map { pg =>
          f"${SyntheticWeb.pageUrl(h, pg)}\tnutch.score=${0.1f + rnd.nextFloat() * 1.9f}%.4f"
        }
    }
  }
}

object CrawlSpec {
  val StartTime = 1700000000000L
  val Buckets = 16

  /** Two large batches over a small synthetic web: the second batch
    * fetches the seed pages' outlinks and their 112-208 px images, so the
    * fetch, parse and payload (image codec) stages carry a large share of
    * the work next to the per-batch job floor of updatedb and hostdb.
    */
  val FetchHeavy = CrawlSpec(
    WebConfig(numHosts = 120, pagesPerHost = 40, fanout = 6, imagesPerPage = 4,
      maxDelayMs = 200, crawlDelayMs = 10L, maxConcurrent = 2,
      imgMinPx = 112, imgPxRange = 97),
    seedHosts = 60, seedPagesPerHost = 8, depth = 2, topN = 100000,
    maxPerHost = 40)

  /** Crawl invariants that hold for any seed; returns the violations. */
  def invariants(frontier: Dataset[CrawlRow], commits: Seq[Commit],
      hostdb: DataFrame): Seq[String] = {
    def rows(stage: String) = commits.filter(_.stage == stage).map(_.rowCount).sum
    val f = frontier.agg(count(lit(1)), countDistinct(col("urlHash")),
      count_if(col("status") === CrawlStatus.Fetched ||
        col("status") === CrawlStatus.NotModified),
      count_if(col("status") === CrawlStatus.Unfetched),
      count_if(col("status") === CrawlStatus.Gone)).head()
    val h = hostdb.agg(sum(col("pages")), sum(col("fetched")),
      sum(col("unfetched")), sum(col("gone"))).head()
    val (n, distinct) = (f.getLong(0), f.getLong(1))
    val hist = (1 to 4).map(i => if (h.isNullAt(i - 1)) 0L else h.getLong(i - 1))
    Seq(
      (distinct == n) -> s"urlHash not unique: $n rows, $distinct distinct",
      (rows("fetch") == rows("generate")) ->
        s"fetched ${rows("fetch")} != generated ${rows("generate")}",
      (rows("fetch") > 0) -> "nothing fetched",
      (hist.head == n) -> s"hostdb status histogram total ${hist.head} != frontier rows $n",
      (hist.tail == Seq(f.getLong(2), f.getLong(3), f.getLong(4))) ->
        s"hostdb histogram ${hist.tail} != frontier ${(2 to 4).map(f.getLong)}"
    ).collect { case (false, msg) => msg }
  }

  def seenDigest(frontier: Dataset[CrawlRow]): String =
    Workload.sha256(frontier.select(col("urlHash")).collect()
      .map(_.getLong(0)).sorted.iterator.map(_.toString))
}

/** Inject, then the timed crawl call: `runBatches` plus one `compact`.
  * Every pass starts from a fresh crawl root.
  */
final class CrawlWorkload(spark: SparkSession, work: Path, spec: CrawlSpec,
    seed: Long, pinnedSeen: Option[String], digestSeen: Boolean)
    extends Workload {
  import CrawlSpec.StartTime

  Files.createDirectories(work)
  private val seedsFile =
    Files.write(work.resolve("seeds.txt"), spec.seedLines(seed).asJava).toString
  private var passes = 0
  var lastSeenDigest = ""

  def pass(): PassResult = {
    passes += 1
    val root = work.resolve(s"crawl-$passes")
    try {
      val p = new CrawlPipeline(spark, root.toString, spec.web,
        numBuckets = CrawlSpec.Buckets)
      p.inject(spark.read.textFile(seedsFile), StartTime)
      val t0 = System.currentTimeMillis()
      p.runBatches(spec.depth, spec.topN, spec.maxPerHost, StartTime)
      p.compact(StartTime + (spec.depth + 1) * 3600000L)
      val t1 = System.currentTimeMillis()
      val wall = (t1 - t0) / 1000.0
      val store = Workload.dirBytes(root)
      val commits = p.log.commits()
      val fetched = commits.filter(_.stage == "fetch").map(_.rowCount).sum
      val frontier = p.frontierState()
      val hostdb = spark.read.parquet(commits.filter(_.stage == "hostdb").last.frontierPath)
      if (digestSeen) lastSeenDigest = CrawlSpec.seenDigest(frontier)
      val failures = CrawlSpec.invariants(frontier, commits, hostdb) ++
        pinnedSeen.filter(_ != lastSeenDigest)
          .map(d => s"URL-seen-set digest $lastSeenDigest != pinned $d")
      def rows(stage: String) = commits.filter(_.stage == stage).map(_.rowCount).sum
      PassResult(wall, fetched / wall, store, 1, failures.size.min(1), failures, Map(
        "crawl_start" -> t0.toDouble,
        "crawl_end" -> t1.toDouble,
        "batches" -> commits.count(_.stage == "updatedb").toDouble,
        "generated" -> rows("generate").toDouble,
        "written" -> rows("updatedb").toDouble,
        "leaked_rdds" -> Workload.releaseCaches(spark).toDouble))
    } finally {
      Workload.releaseCaches(spark)
      CommitLog.releaseProcessLock(root.toString)
      Workload.deleteTree(root)
    }
  }
}

object CorpusWorkload {
  /** Every query entry but the toy crawl loop, with its operator module. */
  val modules: Map[String, String] = Seq(
    "RelationalOps" -> RelationalOps.queries, "TextOps" -> TextOps.queries,
    "SimilarityOps" -> SimilarityOps.queries, "Dedup" -> Dedup.queries,
    "MultimodalOps" -> MultimodalOps.queries, "ExtractOps" -> ExtractOps.queries,
    "SamplingOps" -> SamplingOps.queries, "PackingOps" -> PackingOps.queries
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  val TracedQueries = Seq("q_jaccard_pairs", "q_minhash_pairs",
    "q_simhash_pairs", "q_dedup_clusters", "q_image_phash_dup",
    "q_video_phash_dup", "q_cosine_topk", "q_cosine_topk_ivf",
    "q_cosine_topk_pq", "q_cosine_topk_lsh", "q_embedding_near_dup",
    "q_embedding_near_dup_lsh", "q_boilerplate_ngrams", "q_audio_stats",
    "q_dom_list_extract")

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN => "NaN"
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    case f: Float => canon(f.toDouble)
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Order-free digest of a result: columns by name, floats rounded to six
    * decimals, rows sorted.
    */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\t")).sorted
    Workload.sha256(Iterator(order.map(columns).mkString("\t")) ++ lines.iterator)
  }
}

/** One pass over the query entries in a seed-permuted order. Each query is
  * timed in two parts: building the DataFrame, then `collect()`, which
  * computes every output column.
  */
final class CorpusWorkload(spark: SparkSession, dataDir: String, seed: Long,
    pinned: Map[String, String], threads: Int,
    only: Seq[String] = CorpusWorkload.modules.keys.toSeq) extends Workload {
  import CorpusWorkload._

  private val order = new Random(seed).shuffle(only.toVector.sorted)
  val lastDigests = scala.collection.mutable.Map[String, String]()

  /** Runs every query once, `threads` at a time: planning and code
    * generation are mostly single-threaded driver work, so a concurrent
    * cold pass warms the same code in a fraction of the time.
    */
  override def warmUp(): (Int, Seq[String]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val runs = order.map { q =>
        q -> pool.submit(new Runnable {
          def run(): Unit = SparkEntry.queries(q)(spark, dataDir).collect()
        })
      }
      (order.size, runs.flatMap { case (q, f) =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException =>
          Some(s"$q threw ${e.getCause} in the cold pass") }
      })
    } finally {
      pool.shutdown()
      Workload.releaseCaches(spark)
    }
  }

  def pass(): PassResult = {
    val sc = spark.sparkContext
    val layer = scala.collection.mutable.Map[String, Double]()
    def add(k: String, v: Double) = layer(k) = layer.getOrElse(k, 0.0) + v
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var logSum = 0.0
    var total = 0.0
    for (q <- order) {
      val m = modules(q)
      sc.setJobGroup(Tracer.GroupPrefix + m, q)
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dataDir)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        val (b, e) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        add(s"$m.build_s", b); add(s"$m.exec_s", e); add(s"$q.wall_s", b + e)
        total += b + e
        logSum += math.log(b + e)
        val d = digest(df.columns.toSeq, rows)
        lastDigests(q) = d
        pinned.get(q) match {
          case Some(p) if p == d =>
          case Some(p) => failures += s"$q digest $d != pinned $p"
          case None => failures += s"$q has no pinned digest"
        }
      } catch {
        case e: Exception => failures += s"$q threw $e"
      } finally sc.clearJobGroup()
    }
    layer("leaked_rdds") = Workload.releaseCaches(spark).toDouble
    PassResult(total, 1.0 / math.exp(logSum / order.size),
      Workload.dirBytes(new File(dataDir).toPath), order.size, failures.size,
      failures.toSeq, layer.toMap)
  }
}
