package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.crawl.{CrawlPipeline, WebConfig}

/** One isolated crawl-throughput measurement (child JVM of graft.Bench —
  * fresh heap per parallelism level; JVM-shared runs showed 3x GC/JIT
  * carry-over noise between a local[32] and a following local[8] session).
  *
  * args: <cores> [scale: warmup|full]. Prints one JSON line:
  * {"fetched":N,"fetchWallSec":S,"mergeWallSec":S}
  */
object ScalingRun {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val warmup = args.length > 1 && args(1) == "warmup"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // oversubscribe tasks 4x: politeness groups interleave pure compute
      // (image encode) with buffer copies (content write); finer tasks
      // pipeline those phases and smooth per-group skew at every level
      .config("spark.sql.shuffle.partitions", 4 * cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // measure CPU scaling, not the VM's single disk: content-bearing
    // batches write ~300 MB each, and a fixed-bandwidth disk flattens the
    // N->4N curve. Use the RAM-backed tmpfs when present, and remove the
    // working dir afterward (leftover run dirs once filled the root disk
    // to 90% and depressed every measurement on this box).
    val shm = new java.io.File("/dev/shm")
    val root = (if (shm.isDirectory && shm.canWrite)
      Files.createTempDirectory(shm.toPath, "graft-scaling")
    else Files.createTempDirectory("graft-scaling")).toString
    val webCfg =
      if (warmup) WebConfig(numHosts = 100, pagesPerHost = 50, fanout = 6,
        imagesPerPage = 2, maxDelayMs = 200, crawlDelayMs = 10L,
        maxConcurrent = 2)
      else WebConfig(numHosts = 3000, pagesPerHost = 300, fanout = 6,
        imagesPerPage = 4, maxDelayMs = 200, crawlDelayMs = 10L,
        maxConcurrent = 2, imgMinPx = 112, imgPxRange = 97)
    val p = new CrawlPipeline(spark, root, webCfg, numBuckets = 64,
      maxDepth = 4)
    if (warmup) p.runBatches(depth = 2, topN = 2000, maxPerHost = 40)
    else p.runBatches(depth = 3, topN = 50000, maxPerHost = 40)
    // fold the MoR delta chain so the full-width compaction write is
    // measured too (it is the amortized cost the per-batch deltas defer)
    p.compact(now = 1700000000000L + 99L * 3600000L)
    val commits = p.log.commits()
    val fetched = commits.filter(_.stage == "fetch").map(_.rowCount).sum
    val fetchWall = commits.filter(_.stage == "fetch")
      .flatMap(_.metrics.get("fetchWallMs")).sum / 1000.0
    val mergeWall = commits.filter(_.stage == "updatedb")
      .flatMap(_.metrics.get("mergeWallMs")).sum / 1000.0
    // steady-state = the largest batch (small warm-up batches are almost
    // pure per-job overhead and would understate scaling)
    val steady = commits.filter(_.stage == "fetch").maxBy(_.rowCount)
    val steadyMerge = commits.filter(c => c.stage == "updatedb" &&
      c.batchId == steady.batchId)
      .flatMap(_.metrics.get("mergeWallMs")).headOption.getOrElse(0.0)
    val compactWall = commits.filter(_.stage == "compact")
      .flatMap(_.metrics.get("compactWallMs")).sum / 1000.0
    val generateWall = commits.filter(_.stage == "generate")
      .flatMap(_.metrics.get("generateWallMs")).sum / 1000.0
    val bloomWall = commits
      .flatMap(_.metrics.get("bloomWallMs")).sum / 1000.0
    // stdout contract with Bench: exactly one line starting with RESULT
    println(s"""RESULT{"fetched":$fetched,"fetchWallSec":$fetchWall,""" +
      s""""mergeWallSec":$mergeWall,""" +
      s""""steadyFetched":${steady.rowCount},""" +
      s""""steadyFetchWallSec":${steady.metrics("fetchWallMs") / 1000.0},""" +
      s""""steadyMergeWallSec":${steadyMerge / 1000.0},""" +
      s""""compactWallSec":$compactWall,""" +
      s""""generateWallSec":$generateWall,""" +
      s""""bloomWallSec":$bloomWall}""")
    spark.stop()
    // best-effort cleanup of the working tree (tmpfs space is shared)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(root))
  }
}
