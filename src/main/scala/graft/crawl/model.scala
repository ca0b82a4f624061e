package graft.crawl

import graft.core.XxHash64

/** Frontier row (= the reference's WebPage record, SURVEY.md §1.5 mapping;
  * reference: storage/WebPage.java:36-56). Markers become typed columns;
  * the key is the 64-bit hash of the canonical URL; `bucket` is the salted
  * host-hash partition (north rule: salted-key partitioning). `anchor` is
  * the representative inlink anchor text (the reference keeps a full
  * inlinks map<url,anchor>, WebPage.java:50; one deterministic
  * representative — min across the discovery batch — is what the payload
  * caption channel needs).
  */
final case class CrawlRow(
    urlHash: Long,
    url: String,
    host: String,
    domain: String,
    bucket: Int,
    status: Int,
    score: Float,
    fetchTime: Long,
    prevFetchTime: Long,
    fetchInterval: Int,
    retries: Int,
    modifiedTime: Long,
    signature: Array[Byte],
    prevSignature: Array[Byte],
    distance: Int,
    lastBatch: String,
    reprUrl: String,
    anchor: String,
    cfgId: Int,
    crawlType: Int)

/** Image+caption payload row — exact shape from BASELINE.json `input_hint`
  * plus lineage columns (urlHash, batchId).
  */
final case class PayloadRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    urlHash: Long,
    batchId: String)

/** One fetch attempt's result as it leaves the politeness scheduler:
  * protocol outcome + RAW content bytes and headers (= the reference's
  * WebPage.content / headers fields, storage/WebPage.java:44-49). No
  * parse-derived fields here — outlinks/text/signature belong to the
  * parse stage's output. fetchStart/fetchEnd are virtual-clock millis
  * (deterministic). `contentLength` is the DECLARED Content-Length;
  * `content` may be shorter on a truncated transfer.
  */
final case class FetchResult(
    urlHash: Long,
    url: String,
    host: String,
    outcome: Int, // FetchOutcome codes
    contentType: String,
    redirectTo: String, // null unless redirect
    content: Array[Byte], // raw wire bytes (null unless fetched)
    contentLength: Long,
    headers: Map[String, String],
    anchor: String, // inlink anchor carried from the frontier row
    srcScore: Float, // fetched row's frontier score (for outlink scoring)
    srcDistance: Int, // fetched row's link depth
    fetchStart: Long,
    fetchEnd: Long,
    batchId: String)

/** One page's parse output (= the reference's ParserJob/ParseUtil result:
  * outlinks, text, signature, ParseStatus — reference
  * parse/ParseUtil.java:244-367). Carries the fetch outcome + scoring
  * lineage forward so updatedb consumes parse output alone.
  */
final case class ParsedPage(
    urlHash: Long,
    url: String,
    host: String,
    outcome: Int,
    contentType: String,
    redirectTo: String, // fetch-level redirect OR meta-refresh target
    outlinks: Map[String, String], // dst url -> anchor/alt
    text: String, // visible text (entity-decoded, tag-stripped)
    signature: Array[Byte], // md5 of raw content bytes
    parseStatus: Int, // Parse.Status* codes
    anchor: String,
    srcScore: Float,
    srcDistance: Int,
    fetchStart: Long,
    fetchEnd: Long,
    batchId: String,
    refreshTime: Int = -1) // meta-refresh delay secs; -1 = no refresh

/** One hostdb row (= the reference's Host table, storage/Host.java:41-110,
  * computed by host/HostDbUpdateReducer.java:39-80): per-host crawl stats
  * plus the EFFECTIVE politeness settings (the reference's q_cd/q_mt host
  * keys, fetcher/FetcherReducer.java:363-387) materialized from the config
  * trie so the fetch stage reads them as a table lookup, not a trie walk.
  *
  * `inLinkHosts`/`outLinkHosts` are the reference's per-host link
  * histograms (HostDbUpdateReducer.java:46-72 builds `Histogram<String>`
  * of linking/linked hosts via util/Histogram.java:21-59, stored as the
  * Host record's inlinks/outlinks maps): for this host, the top-K hosts
  * it links TO (`outLinkHosts`) and the top-K hosts linking INTO it
  * (`inLinkHosts`), with link counts — the link-farm / frontier-drift
  * signal. Top-K-bounded (the reference's `TODO: limit number of links`
  * actually done) so a hub host cannot balloon its row.
  */
final case class HostRow(
    host: String,
    pages: Long,
    fetched: Long,
    gone: Long,
    unfetched: Long,
    avgScore: Double,
    maxDistance: Int,
    crawlDelayMs: Long,
    maxConcurrent: Int,
    inLinkHosts: Map[String, Long],
    outLinkHosts: Map[String, Long],
    batchId: String)

/** One fetch outcome keyed for the updatedb broadcast merge.
  * `redirectTo` carries the fetch-level redirect target, or — for a
  * Success outcome — the parse-level meta-refresh target (refreshTime
  * then >= 0; < Parse.PermRefreshTime means permanent, ParseUtil.java:271).
  */
final case class Outcome(urlHash: Long, outcome: Int,
    signature: Array[Byte], batchId: String, redirectTo: String,
    refreshTime: Int = -1)

/** A discovered URL emitted by parse toward updatedb. `contrib` is the
  * inherited-score contribution srcScore/srcOutDegree; the per-destination
  * aggregate takes max(contrib) (order-independent — float sums are not),
  * min(distance), and min(anchor) as the representative inlink anchor.
  */
final case class Discovered(
    urlHash: Long,
    url: String,
    host: String,
    domain: String,
    bucket: Int,
    contrib: Float,
    inlinks: Int,
    distance: Int, // src distance + 1
    anchor: String)

object Keys {
  val BucketSalt = 42L

  /** Salted host bucket: co-locates a host's rows (politeness, range
    * locality like the reference's reversed-URL keys) while spreading
    * hosts uniformly across buckets (skew).
    */
  def bucketOf(host: String, numBuckets: Int): Int = {
    val h = XxHash64.hashUtf8(host, BucketSalt)
    ((h % numBuckets) + numBuckets).toInt % numBuckets
  }

  def rowOf(url: String, numBuckets: Int, now: Long,
      score: Float = 1.0f, distance: Int = 0,
      intervalSec: Int = 30 * 24 * 3600, anchor: String = ""): CrawlRow = {
    val host = graft.core.Urls.host(url)
    CrawlRow(
      urlHash = XxHash64.hashUtf8(url, 42L),
      url = url,
      host = host,
      domain = graft.core.Urls.domain(host),
      bucket = bucketOf(host, numBuckets),
      status = graft.core.CrawlStatus.Unfetched,
      score = score,
      fetchTime = now,
      prevFetchTime = 0L,
      fetchInterval = intervalSec,
      retries = 0,
      modifiedTime = 0L,
      signature = null,
      prevSignature = null,
      distance = distance,
      lastBatch = "",
      reprUrl = "",
      anchor = anchor,
      cfgId = 0,
      crawlType = 7)
  }
}
