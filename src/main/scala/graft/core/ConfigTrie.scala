package graft.core

import scala.collection.mutable

/** Per-site crawl configuration matched by longest URL prefix.
  *
  * Re-expresses the reference's host+path segment trie (reference:
  * urlfilter/UrlPathMatch.java:164-360 match walk, :65-123 UrlNodeConfig
  * fields; populated from SQL in crawl/NutchConstant.java:221-320). The
  * Spark engine builds one immutable trie on the driver and broadcasts it;
  * every stage consults it via a closure (SURVEY.md F4/J3).
  */
final case class SiteConfig(
    cfgId: Int,
    crawlType: Int = 7,
    customScore: Float = 0f,
    customIntervalSec: Int = 0, // 0 = use schedule default
    fetchDepth: Int = Int.MaxValue, // max link distance from seed
    maxPerHost: Int = -1, // generate.max.count analog; -1 = unlimited
    crawlDelayMs: Long = 0L, // politeness delay between fetches
    maxConcurrent: Int = 1, // concurrent fetches per host
    subFilters: Seq[FilterRule] = Nil, // per-node ±regex (SubURLFilters)
    dateFilters: Seq[DateRule] = Nil, // date-window rules (DateFilter)
    rewrite: Option[(String, String)] = None) // F6 pattern->substitution
    extends Serializable {

  /** F6 URL rewrite (reference urlfilter/RegexRule.java:1-22, applied
    * GeneratorMapper.java:208-219 / DbUpdateReducer.java:117-120 —
    * `pattern~substitution`, old key replaced by the rewritten URL).
    */
  def rewriteUrl(url: String): String = rewrite match {
    case Some((pat, sub)) => url.replaceAll(pat, sub)
    case None => url
  }

  def acceptsSub(url: String): Boolean = {
    // reference SubURLFilters.java:22-54 filter(): a rejecting DateFilter
    // short-circuits to reject REGARDLESS of the ± regex outcome (the
    // non-RegexFilter `return false` branch at :38-39)
    if (dateFilters.exists(!_.accepts(url))) false
    else if (subFilters.isEmpty) true
    else {
      // any -rule match rejects; if +rules exist, at least one must match
      val negReject = subFilters.exists(r =>
        !r.accept && r.pattern.findFirstIn(url).isDefined)
      if (negReject) false
      else {
        val pos = subFilters.filter(_.accept)
        pos.isEmpty || pos.exists(_.pattern.findFirstIn(url).isDefined)
      }
    }
  }
}

object SiteConfig {
  val default: SiteConfig = SiteConfig(cfgId = 0)
}

/** Immutable longest-prefix trie over (reversed host labels ++ path segments). */
final class ConfigTrie private (root: ConfigTrie.Node) extends Serializable {

  /** Deepest configured node on the url's host+path walk, or None. */
  def matchUrl(canonicalUrl: String): Option[SiteConfig] = {
    val segs = ConfigTrie.segments(canonicalUrl)
    var node = root
    var best: Option[SiteConfig] = node.config
    var i = 0
    while (i < segs.length) {
      node.children.get(segs(i)) match {
        case Some(child) =>
          node = child
          if (child.config.isDefined) best = child.config
          i += 1
        case None => i = segs.length
      }
    }
    best
  }

  /** No URL matches a config: every lookup yields [[SiteConfig.default]]. */
  def isEmpty: Boolean = root.config.isEmpty && root.children.isEmpty

  def configOrDefault(canonicalUrl: String): SiteConfig =
    matchUrl(canonicalUrl).getOrElse(SiteConfig.default)
}

object ConfigTrie {
  private[core] final class Node extends Serializable {
    var config: Option[SiteConfig] = None
    val children: mutable.Map[String, Node] = mutable.Map.empty
  }

  /** host labels reversed (com, example, www) then path segments — mirrors
    * the reference's walk order so deeper == more specific.
    */
  private[core] def segments(canonicalUrl: String): Array[String] = {
    val h = Urls.host(canonicalUrl)
    val pathStart = canonicalUrl.indexOf('/', canonicalUrl.indexOf("://") + 3)
    val path =
      if (pathStart == -1) ""
      else {
        val q = canonicalUrl.indexOf('?', pathStart)
        if (q == -1) canonicalUrl.substring(pathStart)
        else canonicalUrl.substring(pathStart, q)
      }
    h.split('.').reverse ++ path.split('/').filter(_.nonEmpty)
  }

  /** Build from (urlPrefix -> config) entries. A prefix is a URL whose
    * host+path identifies the subtree it configures.
    */
  def build(entries: Seq[(String, SiteConfig)]): ConfigTrie = {
    val root = new Node
    entries.foreach { case (prefix, cfg) =>
      var node = root
      segments(prefix).foreach { seg =>
        node = node.children.getOrElseUpdate(seg, new Node)
      }
      node.config = Some(cfg)
    }
    new ConfigTrie(root)
  }

  val empty: ConfigTrie = build(Nil)
}
