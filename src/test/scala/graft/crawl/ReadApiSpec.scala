package graft.crawl

import java.net.{HttpURLConnection, URLEncoder}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** S10 gates: the REST read surface serves point lookups, keyset-paged
  * prefix scans, the stats readout, and the commit log over a real
  * crawled frontier (reference api/DbReader.java semantics).
  */
class ReadApiSpec extends AnyFunSuite {

  private val UrlRe = """"url":"([^"]+)"""".r

  test("get/scan/stats/batches over a crawled frontier") {
    val dir = Files.createTempDirectory("readapi").toString
    val p = new CrawlPipeline(spark, dir,
      WebConfig(numHosts = 3, pagesPerHost = 8), numBuckets = 2)
    p.runBatches(2, 30, 8)
    val api = new ReadApi(p)
    val port = api.start()

    def get(path: String): (Int, String) = {
      val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code < 400) conn.getInputStream else conn.getErrorStream
      val body = new String(in.readAllBytes(), "UTF-8")
      in.close()
      (code, body)
    }
    def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

    try {
      val rows = p.frontierState().collect()

      // point lookup: found + not-found
      val u = rows.head.url
      val (c1, one) = get(s"/db/get?url=${enc(u)}")
      assert(c1 === 200 && one.contains(s""""url":"$u""""))
      assert(get("/db/get?url=" + enc("http://nope.example/"))._1 === 404)
      assert(get("/db/get")._1 === 400)

      // prefix scan with keyset pagination: pages partition the prefix
      // set in url order (the reference's start-key paging)
      val prefix = "http://www.test-0.example/"
      val all = rows.map(_.url).filter(_.startsWith(prefix)).sorted.toSeq
      assert(all.size > 4, "fixture too small for a paging test")
      val (_, p1) = get(s"/db/scan?prefix=${enc(prefix)}&limit=3")
      val urls1 = UrlRe.findAllMatchIn(p1).map(_.group(1)).toSeq
      assert(urls1 === all.take(3))
      val (_, p2) = get(s"/db/scan?prefix=${enc(prefix)}&limit=3" +
        s"&startAfter=${enc(urls1.last)}")
      val urls2 = UrlRe.findAllMatchIn(p2).map(_.group(1)).toSeq
      assert(urls2 === all.slice(3, 6))

      // stats: histogram totals equal the frontier size
      val (c3, stats) = get("/db/stats")
      assert(c3 === 200)
      val counts = """"count":(\d+)""".r.findAllMatchIn(stats)
        .map(_.group(1).toLong).sum
      assert(counts === rows.length.toLong)

      // commit log surface
      val (c4, batches) = get("/batches")
      assert(c4 === 200)
      assert(batches.contains(""""stage":"updatedb""""))
      assert(batches.contains(""""stage":"inject""""))

      // every updatedb commit carries the bloom gate's rates, taken from
      // the driver-side key counts, and /batches serves them
      val updates = p.log.commits().filter(_.stage == "updatedb")
      assert(updates.size === 2)
      updates.foreach { c =>
        Seq("bloomMaybeSeenRate", "bloomFalsePositiveRate").foreach { k =>
          val v = c.metrics.getOrElse(k, fail(s"${c.batchId}: no $k"))
          assert(v >= 0.0 && v <= 1.0, s"${c.batchId}: $k = $v")
          assert(batches.contains(s""""$k":$v"""), k)
        }
      }
      // batch 2 rediscovers batch-1 URLs, so its gate lets keys through
      assert(updates.last.metrics("bloomMaybeSeenRate") > 0.0)
    } finally api.stop()
  }
}
