package graft.crawl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pluggable score flows — the reference's ScoringFilter extension point
  * (scoring/ScoringFilters.java:41-130: injectedScore,
  * distributeScoreToOutlinks, updateDbScore, generatorSortValue)
  * re-expressed Spark-first: hooks that run inside typed row logic are
  * plain scalar functions; the hooks that run over whole tables are
  * Columns, one definition each, so their plans stay inside
  * WholeStageCodegen whatever the filter does: updatedb's existing-row
  * score update, and the generator sort value that both generate's rank
  * and fetch's in-queue order sort by.
  *
  * [[ScoringFilter.Default]] reproduces this fork's exact hardcoded
  * behavior (no OPIC plugin ships in it): inject = meta-or-1.0, outlink
  * contribution = srcScore/n, new row = customScore-or-contribution,
  * existing scores never change. The crawl parity suite pins Default
  * against the simulator; custom filters get the extension point the
  * reference had.
  */
trait ScoringFilter extends Serializable {

  /** Score of a freshly injected seed; `metaScore` is the
    * `nutch.score=F` seed-line metadata when present (reference
    * ScoringFilters.injectedScore / InjectorJob).
    */
  def injectedScore(url: String, metaScore: Option[Float]): Float

  /** Per-outlink score contribution when a fetched page's score
    * distributes to its `outlinkCount` outlinks (reference
    * distributeScoreToOutlinks; contributions fold by MAX across a
    * target's inlinks).
    */
  def outlinkContribution(srcUrl: String, srcScore: Float,
      outlinkCount: Int): Float

  /** Score of a newly discovered row entering the frontier. `contrib` is
    * the folded inlink contribution; `customScore` is the per-site
    * config override (0 = none).
    */
  def newRowScore(url: String, contrib: Float, customScore: Float): Float

  /** Updatedb score update for EXISTING rows, as a Column expression over
    * the merge plan (the Spark-first updateDbScore): `score` is the
    * stored score, `contrib` the batch's folded contribution for the row
    * (NULL when the row was not rediscovered this batch). Default:
    * unchanged, which the optimizer folds away with its `contrib` lookup.
    */
  def updateExistingScore(score: Column, contrib: Column): Column = score

  /** Generator sort value (reference generatorSortValue): the Column
    * generate ranks and topN-selects by, and the fetch stage's in-queue
    * order (the reference sorts its FetchItemQueues by the value carried
    * on the key, GeneratorJob SelectorEntry). Default: the raw score.
    */
  def generatorSortValue(score: Column): Column = score
}

object ScoringFilter {

  /** This fork's hardcoded score flows, verbatim. */
  object Default extends ScoringFilter {
    def injectedScore(url: String, metaScore: Option[Float]): Float =
      metaScore.getOrElse(1.0f)
    def outlinkContribution(srcUrl: String, srcScore: Float,
        outlinkCount: Int): Float =
      srcScore / math.max(1, outlinkCount)
    def newRowScore(url: String, contrib: Float, customScore: Float): Float =
      if (customScore > 0f) customScore else contrib
  }

  /** An OPIC-flavored filter (reference scoring-opic plugin semantics,
    * simplified): rediscovered rows ACCUMULATE their batch contribution
    * on top of the stored score. Exists to prove the extension point
    * carries a real alternative policy end-to-end; Default remains the
    * parity-pinned behavior.
    */
  object Opic extends ScoringFilter {
    def injectedScore(url: String, metaScore: Option[Float]): Float =
      metaScore.getOrElse(1.0f)
    def outlinkContribution(srcUrl: String, srcScore: Float,
        outlinkCount: Int): Float =
      srcScore / math.max(1, outlinkCount)
    def newRowScore(url: String, contrib: Float, customScore: Float): Float =
      if (customScore > 0f) customScore else contrib
    override def updateExistingScore(score: Column, contrib: Column)
        : Column =
      score + coalesce(contrib, lit(0.0f))
  }
}
