package graft.crawl

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** S10: the REST read surface over the crawl state (reference:
  * api/NutchServer.java Restlet app, api/DbReader.java paged webtable
  * scans, api/DbResource.java query params) — re-expressed as a thin
  * HTTP layer over the SAME Datasets the engine computes with; every
  * endpoint is a Catalyst-planned query with pushdown, never a
  * driver-side table walk.
  *
  * Endpoints (all GET, JSON responses):
  *   /db/get?url=U                  one frontier row by exact URL
  *   /db/scan?prefix=P&limit=N[&startAfter=U]   URL-prefix page, url-
  *                                  ordered, keyset pagination (the
  *                                  reference's start-key paging)
  *   /db/stats                      status histogram + score stats (the
  *                                  WebTableReader stats readout)
  *   /batches                       commit log (batch/stage/rows/metrics)
  *
  * The server is for operators/tools, not data-plane throughput: each
  * request runs a bounded query (limit-capped scan or a histogram whose
  * width is |statuses|). Reads see the LAST COMMITTED state — the same
  * isolation the commit log gives every other reader.
  */
final class ReadApi(pipeline: CrawlPipeline, port: Int = 0) {

  private var server: HttpServer = _

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def rowJson(r: CrawlRow): String =
    s"""{"url":"${jsonEscape(r.url)}","host":"${jsonEscape(r.host)}",""" +
      s""""status":${r.status},"score":${r.score},""" +
      s""""fetchTime":${r.fetchTime},"fetchInterval":${r.fetchInterval},""" +
      s""""retries":${r.retries},"distance":${r.distance},""" +
      s""""lastBatch":"${jsonEscape(r.lastBatch)}"}"""

  private def params(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length.toLong)
    x.getResponseBody.write(bytes)
    x.close()
  }

  private def frontier(): Dataset[CrawlRow] = pipeline.frontierState()

  /** Start the server; returns the bound port. */
  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    server.createContext("/db/get", (x: HttpExchange) =>
      try {
        params(x).get("url") match {
          case None => respond(x, 400, """{"error":"url required"}""")
          case Some(u) =>
            // point lookup: the bucket is a pure function of the URL's
            // host, so deriving it on the driver partition-prunes the
            // MoR base scan to ONE bucket directory — O(1 bucket) per
            // lookup instead of O(frontier); the url equality filter
            // then pushes into that bucket's parquet scan
            val b = Keys.bucketOf(graft.core.Urls.host(u),
              pipeline.bucketCount)
            frontier().filter(col("bucket") === b && col("url") === u)
              .limit(1).collect().headOption match {
              case Some(r) => respond(x, 200, rowJson(r))
              case None => respond(x, 404, """{"error":"not found"}""")
            }
        }
      } catch { case e: Exception =>
        respond(x, 500, s"""{"error":"${jsonEscape(e.toString)}"}""") })

    server.createContext("/db/scan", (x: HttpExchange) =>
      try {
        val p = params(x)
        val prefix = p.getOrElse("prefix", "")
        val limit = math.min(10000, p.getOrElse("limit", "100").toInt)
        var q = frontier().filter(col("url").startsWith(prefix))
        // keyset pagination (reference DbReader start-key): strictly
        // after the last URL of the previous page — O(page) per request
        // regardless of offset depth
        p.get("startAfter").foreach(a => q = q.filter(col("url") > a))
        val rows = q.orderBy(col("url")).limit(limit).collect()
        respond(x, 200, rows.map(rowJson).mkString("[", ",", "]"))
      } catch { case e: Exception =>
        respond(x, 500, s"""{"error":"${jsonEscape(e.toString)}"}""") })

    server.createContext("/db/stats", (x: HttpExchange) =>
      try {
        val hist = frontier().groupBy(col("status"))
          .agg(count(lit(1)).as("n"), avg(col("score")).as("avgScore"),
            max(col("distance")).as("maxDistance"))
          .orderBy(col("status"))
          .collect()
          .map(r => s"""{"status":${r.getInt(0)},"count":${r.getLong(1)},""" +
            s""""avgScore":${r.getDouble(2)},""" +
            s""""maxDistance":${r.getInt(3)}}""")
        respond(x, 200, hist.mkString("[", ",", "]"))
      } catch { case e: Exception =>
        respond(x, 500, s"""{"error":"${jsonEscape(e.toString)}"}""") })

    server.createContext("/batches", (x: HttpExchange) =>
      try {
        val commits = pipeline.log.commits().map { c =>
          val metrics = c.metrics.toSeq.sorted
            .map { case (k, v) => s""""${jsonEscape(k)}":$v""" }
          s"""{"seq":${c.seq},"batchId":"${jsonEscape(c.batchId)}",""" +
            s""""stage":"${jsonEscape(c.stage)}","rows":${c.rowCount},""" +
            s""""metrics":${metrics.mkString("{", ",", "}")}}"""
        }
        respond(x, 200, commits.mkString("[", ",", "]"))
      } catch { case e: Exception =>
        respond(x, 500, s"""{"error":"${jsonEscape(e.toString)}"}""") })

    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)
}
