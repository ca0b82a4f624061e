package graft.core

/** Re-crawl scheduling state machine.
  *
  * Pure function `next(state, outcome, now)` re-expressing the reference's
  * schedule semantics (reference: crawl/AbstractFetchSchedule.java:115-209,
  * crawl/DefaultFetchSchedule.java:31-40, crawl/AdaptiveFetchSchedule.java:66-108,
  * crawl/DbUpdateReducer.java:170-221):
  *
  *  - SUCCESS, signature changed: status FETCHED, interval adapted down
  *    (adaptive) or kept (default), fetchTime = now + interval
  *  - SUCCESS, signature unchanged / NOTMODIFIED: status NOTMODIFIED,
  *    interval adapted up (adaptive)
  *  - RETRY: status RETRY, retries+1, fetchTime = now + 1 day;
  *    retries > retryMax (3) => GONE
  *  - GONE: status GONE, interval *= 1.5
  *
  * The generate-time max-interval clamp (fetchTime too far in the future
  * => interval = 0.9 * maxInterval and forced eligibility,
  * AbstractFetchSchedule.java:172-185) is a Column step of
  * `CrawlPipeline.fetchlistPlan`, not a function here.
  *
  * All times epoch millis, intervals in seconds (matching the reference's
  * long/int split, storage/WebPage.java:36-56).
  */
final case class ScheduleState(
    status: Int,
    fetchTime: Long,
    prevFetchTime: Long,
    fetchInterval: Int,
    retries: Int,
    modifiedTime: Long)

final case class ScheduleConfig(
    defaultIntervalSec: Int = 30 * 24 * 3600, // db.fetch.interval.default
    maxIntervalSec: Int = 90 * 24 * 3600, // db.fetch.interval.max
    retryMax: Int = 3, // db.fetch.retry.max
    adaptive: Boolean = false,
    incRate: Float = 0.2f, // db.fetch.schedule.adaptive.inc_rate
    decRate: Float = 0.2f, // db.fetch.schedule.adaptive.dec_rate
    minIntervalSec: Int = 60, // adaptive floor
    adaptiveMaxIntervalSec: Int = 365 * 24 * 3600)

object Schedule {
  private val DayMs = 24L * 3600 * 1000

  /** Apply one fetch outcome. Returns the successor state. */
  def next(
      st: ScheduleState,
      outcome: Int,
      now: Long,
      cfg: ScheduleConfig = ScheduleConfig()): ScheduleState =
    outcome match {
      case FetchOutcome.Success =>
        val interval =
          if (cfg.adaptive) adapt(st.fetchInterval, changed = true, cfg)
          else st.fetchInterval
        st.copy(
          status = CrawlStatus.Fetched,
          prevFetchTime = st.fetchTime,
          fetchTime = now + interval * 1000L,
          fetchInterval = interval,
          retries = 0,
          modifiedTime = now)

      case FetchOutcome.NotModified =>
        val interval =
          if (cfg.adaptive) adapt(st.fetchInterval, changed = false, cfg)
          else st.fetchInterval
        st.copy(
          status = CrawlStatus.NotModified,
          prevFetchTime = st.fetchTime,
          fetchTime = now + interval * 1000L,
          fetchInterval = interval,
          retries = 0)

      case FetchOutcome.RetryTransient =>
        val retries = st.retries + 1
        if (retries > cfg.retryMax)
          st.copy(
            status = CrawlStatus.Gone,
            retries = retries,
            prevFetchTime = st.fetchTime,
            fetchTime = now + st.fetchInterval * 1000L)
        else
          st.copy(
            status = CrawlStatus.Retry,
            retries = retries,
            prevFetchTime = st.fetchTime,
            fetchTime = now + DayMs)

      case FetchOutcome.Gone =>
        val interval =
          math.min(cfg.maxIntervalSec.toLong, (st.fetchInterval * 1.5).toLong)
            .toInt
        st.copy(
          status = CrawlStatus.Gone,
          prevFetchTime = st.fetchTime,
          fetchTime = now + interval * 1000L,
          fetchInterval = interval)

      case FetchOutcome.RedirTemp =>
        st.copy(
          status = CrawlStatus.RedirTemp,
          prevFetchTime = st.fetchTime,
          fetchTime = now + st.fetchInterval * 1000L)

      case FetchOutcome.RedirPerm =>
        st.copy(
          status = CrawlStatus.RedirPerm,
          prevFetchTime = st.fetchTime,
          fetchTime = now + st.fetchInterval * 1000L)

      case other =>
        throw new IllegalArgumentException(s"unknown fetch outcome $other")
    }

  /** Adaptive interval update (AdaptiveFetchSchedule.java:66-108). */
  private[core] def adapt(
      intervalSec: Int,
      changed: Boolean,
      cfg: ScheduleConfig): Int = {
    val raw =
      if (changed) intervalSec * (1.0f - cfg.decRate)
      else intervalSec * (1.0f + cfg.incRate)
    math.max(cfg.minIntervalSec,
      math.min(cfg.adaptiveMaxIntervalSec, raw.toInt))
  }
}
