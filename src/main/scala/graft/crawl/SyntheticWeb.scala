package graft.crawl

import java.nio.charset.{Charset, StandardCharsets}

import graft.core.{Urls, XxHash64}

/** Deterministic fake web — the test/bench substrate, modeled on the
  * reference's benchmark testbed (reference: tools/proxy/FakeHandler.java:46-140
  * — host/page pools with configurable fan-out; tools/proxy/DelayHandler.java:43-66
  * — seeded response delays; tools/Benchmark.java:47-60 — seeds
  * `http://www.test-<i>.com/`).
  *
  * Every property of every URL (status, delay, headers, bytes) is a pure
  * function of the URL string, so any executor — and the single-threaded
  * simulator oracle — sees the identical web with no shared state. No wall
  * clock, no RNG state.
  *
  * Two layers:
  *  - `content(url)`: the SEMANTIC page (outlink map / image / redirect /
  *    error) — what the site "means";
  *  - `raw(url)`: the PROTOCOL response — real HTML bytes rendered from the
  *    semantic page (relative + absolute hrefs, entity-encoded, img alt
  *    captions), deterministically varied across gzip Content-Encoding,
  *    header-vs-meta charset declarations (UTF-8 / ISO-8859-1), and
  *    truncated transfers — so the parse stage has real work to undo.
  */
final case class WebConfig(
    numHosts: Int = 20,
    pagesPerHost: Int = 50,
    fanout: Int = 6, // page outlinks per page
    imagesPerPage: Int = 3,
    maxDelayMs: Int = 200,
    crawlDelayMs: Long = 50L, // politeness budget per host
    maxConcurrent: Int = 1, // concurrent fetches per host
    imgMinPx: Int = 16, // image payload size range (bench uses 64-160:
    imgPxRange: Int = 33) // realistic crawl payloads, compute-dominant)

sealed trait WebContent
final case class HtmlPage(outlinks: Map[String, String]) extends WebContent
final case class ImageFile(bytes: Array[Byte], w: Int, h: Int, fmt: String,
    caption: String) extends WebContent
case object NotFound extends WebContent
final case class Redirect(to: String, permanent: Boolean) extends WebContent
case object ServerError extends WebContent // transient -> retry
/** A 200 HTML page whose only real content is a `<meta http-equiv=refresh>`
  * (the parked/migrated-page idiom); seconds < Parse.PermRefreshTime makes
  * it a PERMANENT redirect for reprUrl purposes.
  */
final case class RefreshPage(to: String, seconds: Int,
    bodyLinks: Map[String, String]) extends WebContent

/** Protocol-level response (what a Fetcher returns): raw wire bytes +
  * headers. `contentLength` is the DECLARED length — `bytes` may be
  * shorter on a truncated transfer (reference ParserJob isTruncated).
  */
sealed trait RawResponse
final case class RawPage(contentType: String, headers: Map[String, String],
    bytes: Array[Byte], contentLength: Long) extends RawResponse
final case class RawRedirect(to: String, permanent: Boolean)
    extends RawResponse
case object RawNotFound extends RawResponse
case object RawServerError extends RawResponse

object SyntheticWeb {

  def hostName(i: Int): String = s"www.test-$i.example"
  def seedUrl(i: Int): String = s"http://${hostName(i)}/page0.html"
  def pageUrl(host: Int, page: Int): String =
    s"http://${hostName(host)}/page$page.html"
  def imageUrl(host: Int, page: Int, k: Int, fmt: String): String =
    s"http://${hostName(host)}/img${page}_$k.$fmt"
  def privateUrl(host: Int, page: Int): String =
    s"http://${hostName(host)}/private/page$page.html"
  def searchUrl(host: Int, q: Int): String =
    s"http://${hostName(host)}/search?q=$q&lang=en"

  def seeds(cfg: WebConfig): Seq[String] =
    (0 until cfg.numHosts).map(seedUrl)

  // `m.test-N.example` aliases mirror the www host's URL space (same
  // registered domain) so byDomain/byIP politeness grouping has >1 host
  // per queue to exercise
  private val HostRe = """http://(?:www|m)\.test-(\d+)\.example(/.*)""".r
  private val PageRe = """/page(\d+)\.html""".r
  private val PrivateRe = """/private/page(\d+)\.html""".r
  private val ImgRe = """/img(\d+)_(\d+)\.(png|jpeg)""".r
  private val SearchRe = """/search\?q=(\d+)&lang=en""".r

  private def h64(url: String): Long = XxHash64.hashUtf8(url, 1234567890L)

  private def isImageUrl(url: String): Boolean =
    url.endsWith(".png") || url.endsWith(".jpeg")

  /** Per-host robots: every k-th host disallows /private/. Deterministic
    * robots "file" — the fetcher consults this through its robots cache.
    */
  def robotsDisallows(host: String): Seq[String] = host match {
    case h if h.startsWith("www.test-") =>
      val i = h.stripPrefix("www.test-").stripSuffix(".example")
      if (i.nonEmpty && i.forall(_.isDigit) && i.toInt % 7 == 3)
        Seq("/private/")
      else Nil
    case _ => Nil
  }

  /** Deterministic fetch delay for a URL (DelayHandler analog). */
  def delayMs(url: String, cfg: WebConfig): Long =
    math.floorMod(h64(url), cfg.maxDelayMs.toLong) + 1

  /** Deterministic fake DNS: hosts of one registered domain resolve to one
    * IP (the byIP queue-mode resolver; the reference calls
    * InetAddress.getByName in URLPartitioner.java:96-104 — a real resolver
    * is the production drop-in).
    */
  def resolveIp(host: String): String = {
    val h = XxHash64.hashUtf8(graft.core.Urls.domain(host), 7L)
    s"10.${math.floorMod(h, 200L)}.${math.floorMod(h >>> 8, 250L)}." +
      s"${math.floorMod(h >>> 16, 250L)}"
  }

  /** Image spec for an image URL: size, format, caption, pixels-seed. */
  def imageSpec(url: String, cfg: WebConfig): (Int, Int, String, String, Long) = {
    val h = h64(url)
    val w = cfg.imgMinPx + math.floorMod(h >>> 8, cfg.imgPxRange.toLong).toInt
    val ht = cfg.imgMinPx + math.floorMod(h >>> 16, cfg.imgPxRange.toLong).toInt
    val fmt = if (url.endsWith(".png")) "png" else "jpeg"
    val host = graft.core.Urls.host(url)
    val caption = f"caption ${h & 0xFFFFFFFFL}%08x of $host"
    (w, ht, fmt, caption, h)
  }

  /** The whole web, as one pure function (the semantic layer). */
  def content(url: String, cfg: WebConfig): WebContent = url match {
    case HostRe(hostIdxS, path) =>
      val hostIdx = hostIdxS.toInt
      if (hostIdx >= cfg.numHosts) NotFound
      else path match {
        case PageRe(pageS) =>
          val page = pageS.toInt
          if (page >= cfg.pagesPerHost) NotFound
          else pageContent(url, hostIdx, page, cfg)
        case PrivateRe(pageS) =>
          // exists, but robots-disallowed on some hosts; plain page content
          val page = pageS.toInt
          if (page >= cfg.pagesPerHost) NotFound
          else HtmlPage(Map(pageUrl(hostIdx, page) -> "back"))
        case SearchRe(qS) =>
          // query-string URL space: a couple of result links per query
          val q = qS.toInt
          val h = h64(url)
          HtmlPage(Map(
            pageUrl(hostIdx, math.floorMod(q * 7L + 3 + h, cfg.pagesPerHost.toLong).toInt) -> "result",
            pageUrl(hostIdx, math.floorMod(q * 11L + 5, cfg.pagesPerHost.toLong).toInt) -> "more"))
        case ImgRe(_, _, _) => imageContent(url, cfg)
        case _ => NotFound
      }
    case _ => NotFound
  }

  private def pageContent(url: String, hostIdx: Int, page: Int,
      cfg: WebConfig): WebContent = {
    val h = h64(url)
    // deterministic status mix (FakeHandler has none; we add the protocol
    // outcomes the reference's FetcherReducer dispatch handles,
    // FetcherReducer.java:557-605)
    math.floorMod(h, 100L) match {
      case m if m < 78 => HtmlPage(outlinksOf(hostIdx, page, h, cfg))
      case m if m < 80 =>
        // meta-refresh pages (T7 parse-level redirects): m==78 permanent
        // (0 s < PERM_REFRESH_TIME), m==79 temporary (30 s). The body
        // still carries ordinary links — per the reference's
        // SUCCESS_REDIRECT contract they must NOT become discoveries.
        RefreshPage(pageUrl(hostIdx, (page + 3) % cfg.pagesPerHost),
          seconds = if (m == 78) 0 else 30,
          bodyLinks = outlinksOf(hostIdx, page, h, cfg))
      case m if m < 84 =>
        Redirect(pageUrl(hostIdx, (page + 1) % cfg.pagesPerHost),
          permanent = m >= 82)
      case m if m < 90 => NotFound
      case m if m < 95 => ServerError
      case _ => HtmlPage(outlinksOf(hostIdx, page, h, cfg))
    }
  }

  private def imageContent(url: String, cfg: WebConfig): WebContent = {
    val (w, ht, fmt, caption, seed) = imageSpec(url, cfg)
    val px = ImageCodec.pixels(seed, w, ht)
    val bytes = ImageCodec.encode(px, w, ht, fmt)
    ImageFile(bytes, w, ht, fmt, caption)
  }

  /** Outlink pool (FakeHandler UNIQUE-mode analog): same-host pages, one
    * cross-host page, image links (anchor = the image's caption, rendered
    * as the img alt text), occasionally a /private/ page or a
    * query-string search link.
    */
  private def outlinksOf(hostIdx: Int, page: Int, h: Long, cfg: WebConfig)
      : Map[String, String] = {
    val links = scala.collection.mutable.LinkedHashMap[String, String]()
    var q = 0
    while (q < cfg.fanout - 1) {
      val dst = math.floorMod(page * 7L + q * 13L + (h >>> (q % 8)),
        cfg.pagesPerHost.toLong).toInt
      links(pageUrl(hostIdx, dst)) = s"link$q"
      q += 1
    }
    val crossHost = math.floorMod(hostIdx + page + 1L, cfg.numHosts.toLong).toInt
    val crossPage = math.floorMod(h >>> 32, cfg.pagesPerHost.toLong).toInt
    links(pageUrl(crossHost, crossPage)) = "cross"
    if (math.floorMod(h, 11L) == 0)
      links(privateUrl(hostIdx, page)) = "private"
    if (math.floorMod(h, 13L) == 0)
      links(searchUrl(hostIdx, math.floorMod(h >>> 5, 3L).toInt)) =
        "search & find" // exercises entity encode/decode on href + anchor
    var k = 0
    while (k < cfg.imagesPerPage) {
      val fmt = if (((h >>> (8 + k)) & 1L) == 1L) "png" else "jpeg"
      val img = imageUrl(hostIdx, page, k, fmt)
      links(img) = imageSpec(img, cfg)._4 // alt = caption
      k += 1
    }
    links.toMap
  }

  // ------------------------------------------------ protocol layer (raw)

  private val vocab = Array("crawl", "fetch", "merge", "frontier", "batch",
    "score", "host", "link", "page", "index", "image", "data")

  /** Deterministic body text; ISO pages carry accented chars so a wrong
    * charset decode is visible in text/signature comparisons.
    */
  private def pageText(url: String, iso: Boolean): String = {
    val h = h64(url)
    val n = 8 + math.floorMod(h >>> 3, 9L).toInt
    val words = (0 until n).map(i =>
      vocab(math.floorMod(h >>> (i % 48), vocab.length.toLong).toInt))
    words.mkString(" ") + (if (iso) " café résumé" else "")
  }

  /** Render the semantic page to real HTML wire bytes. Variants (all pure
    * functions of the URL): gzip Content-Encoding on every ~3rd page;
    * charset declared via header on ~1/5, via meta tag (ISO-8859-1) on
    * ~1/5; ~1/23 transfers truncated to half the declared Content-Length.
    * Same-host hrefs render relative on half the links; hrefs and anchors
    * are entity-encoded.
    */
  private def renderPage(url: String, outlinks: Map[String, String],
      refresh: Option[(String, Int)] = None): RawPage = {
    val h = h64(url)
    val iso = math.floorMod(h, 5L) == 0
    val headerCharset = math.floorMod(h, 5L) == 1
    val charset =
      if (iso) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8
    val host = Urls.host(url)
    val sb = new StringBuilder(1024)
    sb.append("<html><head>")
    if (iso) sb.append("<meta charset=\"ISO-8859-1\">")
    refresh.foreach { case (to, secs) =>
      // target rendered relative on half the same-host cases + entity-
      // encoded, like ordinary hrefs — the parser must undo both
      val tgt = if (Urls.host(to) == host && ((h ^ h64(to)) & 1L) == 0L)
        Urls.pathOf(to)
      else to
      sb.append("<meta http-equiv=\"refresh\" content=\"")
        .append(Parse.encodeEntities(s"$secs; url=$tgt"))
        .append("\">")
    }
    sb.append("<title>").append(Parse.encodeEntities(s"Page ${Urls.pathOf(url)}"))
      .append("</title></head><body><p>")
      .append(Parse.encodeEntities(pageText(url, iso)))
      .append("</p>\n")
    outlinks.foreach { case (dst, anchor) =>
      val relative = Urls.host(dst) == host && ((h ^ h64(dst)) & 1L) == 0L
      val href =
        Parse.encodeEntities(if (relative) Urls.pathOf(dst) else dst)
      if (isImageUrl(dst))
        sb.append("<img src=\"").append(href).append("\" alt=\"")
          .append(Parse.encodeEntities(anchor)).append("\"/>\n")
      else
        sb.append("<a href=\"").append(href).append("\">")
          .append(Parse.encodeEntities(anchor)).append("</a>\n")
    }
    sb.append("</body></html>")
    val full = sb.toString.getBytes(charset)
    val gz = math.floorMod(h, 3L) == 0
    val wireFull = if (gz) Parse.gzip(full) else full
    val declared = wireFull.length.toLong
    val truncated = math.floorMod(h, 23L) == 7
    val wire = if (truncated) wireFull.take(wireFull.length / 2) else wireFull
    val ct = if (headerCharset) "text/html; charset=utf-8" else "text/html"
    val headers = Map(
      "content-type" -> ct,
      "content-length" -> declared.toString) ++
      (if (gz) Map("content-encoding" -> "gzip") else Map.empty)
    RawPage(ct, headers, wire, declared)
  }

  /** The protocol response for a URL — what a Fetcher returns. */
  def raw(url: String, cfg: WebConfig): RawResponse = content(url, cfg) match {
    case HtmlPage(outlinks) => renderPage(url, outlinks)
    case RefreshPage(to, secs, bodyLinks) =>
      renderPage(url, bodyLinks, refresh = Some((to, secs)))
    case img: ImageFile =>
      RawPage(s"image/${img.fmt}",
        Map("content-type" -> s"image/${img.fmt}",
          "content-length" -> img.bytes.length.toString),
        img.bytes, img.bytes.length.toLong)
    case Redirect(to, perm) => RawRedirect(to, perm)
    case NotFound => RawNotFound
    case ServerError => RawServerError
  }
}
