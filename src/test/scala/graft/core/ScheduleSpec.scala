package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Schedule state-machine arithmetic vs the reference semantics
  * (reference: crawl/AbstractFetchSchedule.java:115-209,
  * AdaptiveFetchSchedule.java:66-108, DbUpdateReducer.java:170-221).
  */
class ScheduleSpec extends AnyFunSuite {
  private val day = 24L * 3600 * 1000
  private val cfg = ScheduleConfig()
  private val st0 = ScheduleState(
    status = CrawlStatus.Unfetched,
    fetchTime = 1000L,
    prevFetchTime = 0L,
    fetchInterval = cfg.defaultIntervalSec,
    retries = 0,
    modifiedTime = 0L)
  private val now = 5000L

  test("success: FETCHED, next fetch one interval out, retries reset") {
    val s = Schedule.next(st0.copy(retries = 2), FetchOutcome.Success, now)
    assert(s.status === CrawlStatus.Fetched)
    assert(s.fetchTime === now + cfg.defaultIntervalSec * 1000L)
    assert(s.prevFetchTime === st0.fetchTime)
    assert(s.retries === 0)
  }

  test("notmodified keeps default interval") {
    val s = Schedule.next(st0, FetchOutcome.NotModified, now)
    assert(s.status === CrawlStatus.NotModified)
    assert(s.fetchInterval === cfg.defaultIntervalSec)
  }

  test("adaptive: interval shrinks 20% on change, grows 20% on no-change, clamped") {
    val a = cfg.copy(adaptive = true)
    assert(Schedule.adapt(1000, changed = true, a) === 800)
    assert(Schedule.adapt(1000, changed = false, a) === 1200)
    assert(Schedule.adapt(10, changed = true, a) === 60) // min 60s floor
    assert(Schedule.adapt(Int.MaxValue / 2, changed = false, a) ===
      a.adaptiveMaxIntervalSec)
  }

  test("retry: +1 day, retries increment; GONE after retryMax exceeded") {
    val s1 = Schedule.next(st0, FetchOutcome.RetryTransient, now)
    assert(s1.status === CrawlStatus.Retry)
    assert(s1.retries === 1)
    assert(s1.fetchTime === now + day)
    val s4 = Schedule.next(st0.copy(retries = 3), FetchOutcome.RetryTransient, now)
    assert(s4.status === CrawlStatus.Gone) // retries 4 > retryMax 3
  }

  test("gone: interval x1.5 capped at max") {
    val s = Schedule.next(st0, FetchOutcome.Gone, now)
    assert(s.status === CrawlStatus.Gone)
    assert(s.fetchInterval === (cfg.defaultIntervalSec * 1.5).toInt)
    val big = st0.copy(fetchInterval = cfg.maxIntervalSec)
    assert(Schedule.next(big, FetchOutcome.Gone, now).fetchInterval ===
      cfg.maxIntervalSec)
  }

}

class ConfigTrieSpec extends AnyFunSuite {
  test("longest-prefix match over host labels then path segments") {
    val trie = ConfigTrie.build(Seq(
      "http://www.site.com/" -> SiteConfig(cfgId = 1, fetchDepth = 3),
      "http://www.site.com/news/" -> SiteConfig(cfgId = 2, fetchDepth = 5),
      "http://other.com/" -> SiteConfig(cfgId = 3)))
    assert(trie.matchUrl("http://www.site.com/about.html").map(_.cfgId) === Some(1))
    assert(trie.matchUrl("http://www.site.com/news/x/y.html").map(_.cfgId) === Some(2))
    assert(trie.matchUrl("http://other.com/z").map(_.cfgId) === Some(3))
    assert(trie.matchUrl("http://unknown.org/") === None)
    assert(trie.configOrDefault("http://unknown.org/").cfgId === 0)
  }

  test("sub-filters: -rule rejects, +rules require one match") {
    val cfg = SiteConfig(cfgId = 1, subFilters = Seq(
      FilterRule(accept = false, ".*\\.pdf$".r),
      FilterRule(accept = true, ".*/articles/.*".r)))
    assert(cfg.acceptsSub("http://s.com/articles/1.html"))
    assert(!cfg.acceptsSub("http://s.com/articles/1.pdf"))
    assert(!cfg.acceptsSub("http://s.com/other/1.html"))
  }
}

class UrlFilterChainSpec extends AnyFunSuite {
  test("default chain: binary extensions and loops rejected, pages accepted") {
    val c = UrlFilterChain.default
    assert(c.accepts("http://a.com/page.html"))
    assert(c.accepts("http://a.com/img/photo.jpg")) // image crawl: images pass
    assert(!c.accepts("http://a.com/x.zip"))
    assert(!c.accepts("http://a.com/a/b/a/b/a/b/")) // repeated-segment loop
  }

  test("loop guard matches the reference pattern") {
    val c = UrlFilterChain.default
    assert(!c.accepts("http://a.com/foo/x/foo/y/foo/z"))
    assert(c.accepts("http://a.com/foo/x/foo/y/bar"))
  }

  test("parse signed rules; first match wins; no match rejects") {
    val c = UrlFilterChain.parse(Seq(
      "# comment", "-.*forbidden.*", "+^http://good\\.com/.*"))
    assert(c.accepts("http://good.com/x"))
    assert(!c.accepts("http://good.com/forbidden/x"))
    assert(!c.accepts("http://other.com/"))
  }
}

class SignatureSpec extends AnyFunSuite {
  test("md5 of content; url fallback when empty") {
    val a = Signature.md5Hex("hello".getBytes, "http://a.com/")
    val b = Signature.md5Hex("hello".getBytes, "http://b.com/")
    assert(a === b) // content-driven
    assert(a === "5d41402abc4b2a76b9719d911017c592")
    val ua = Signature.md5Hex(Array.emptyByteArray, "http://a.com/")
    val ub = Signature.md5Hex(Array.emptyByteArray, "http://b.com/")
    assert(ua !== ub) // url fallback
  }

  test("text profile is robust to token order and whitespace noise") {
    val s1 = Signature.textProfile("the quick brown fox the quick")
    val s2 = Signature.textProfile("quick the  brown\n fox quick the!")
    assert(s1.sameElements(s2))
    val s3 = Signature.textProfile("completely different words here")
    assert(!s1.sameElements(s3))
  }
}
