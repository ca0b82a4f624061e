package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget sequence packing: assign documents, in a deterministic
  * global order, to fixed-token-budget shards — the concatenate-then-chunk
  * step that turns a curated corpus into pretraining shards. A doc's shard
  * is `floor(exclusive-prefix-sum(tokens) / budget)`: docs are laid end to
  * end and the stream is cut every `budget` tokens, so a shard overshoots
  * only by its straddling doc (which training pipelines truncate — the
  * assignment, not the split, is the engine's job).
  *
  * Scale shape: a global running total LOOKS sequential, but decomposes
  * over LOGICAL key blocks — `block = doc_id div blockSize`:
  *   1. per-block token sums via `groupBy(block)` (map-side partial agg,
  *      one shuffle of |docs|/blockSize rows);
  *   2. exclusive prefix over the tiny block-sum table with one window
  *      (single-task over ~|docs|/blockSize rows — bounded, NOT |docs|);
  *   3. block start offsets broadcast-joined back;
  *   4. within-block running sum via a window PARTITIONED by block (each
  *      partition holds <= blockSize rows).
  * No unpartitioned window over the rows (Spark executes `sum() over
  * (order by ...)` without PARTITION BY in a SINGLE task — the one-liner
  * that does not survive scale-up), and — unlike the earlier two-pass
  * RDD prefix sum — no dependence on PHYSICAL partition identity: every
  * boundary here is a function of doc_id alone, so the result is
  * deterministic under any partitioning, caching, recompute, or AQE
  * re-plan. (The RDD form required two `mapPartitionsWithIndex` passes to
  * observe the SAME partitioning of one persisted RDD; a replanned second
  * pass renumbered partitions and mis-assigned offsets.) The corpus is the
  * `documents` table, read through [[Tables.read]].
  */
object PackingOps {

  /** (doc_id, n_toks, shard) for every document: whitespace token count
    * (the q_token_count semantics) and the doc's fixed-budget shard in
    * doc_id order. `blockSize` sets the logical block width: the block-sum
    * table is ~max(doc_id)/blockSize rows (keep it small enough for one
    * window task and a broadcast) while each within-block window group
    * holds at most blockSize rows. The result is blockSize-invariant.
    */
  def packSequences(s: SparkSession, dir: String, budget: Long = 4096L,
      blockSize: Long = 1L << 16): DataFrame = {
    require(budget > 0 && blockSize > 0)
    val blocked = Tables.read(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= lit("")))
          .cast("long").as("n_toks"))
      .withColumn("block", expr(s"doc_id div ${blockSize}L"))
    val blockSums = blocked.groupBy("block")
      .agg(sum("n_toks").as("block_sum"))
    // exclusive prefix over the block-sum table; the unpartitioned window
    // is deliberate — it runs over |docs|/blockSize rows, not |docs|
    val wOff = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blockSums
      .select(col("block"),
        coalesce(sum("block_sum").over(wOff), lit(0L)).as("block_off"))
    val wIn = Window.partitionBy("block").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    blocked.join(broadcast(offsets), Seq("block"))
      .withColumn("start",
        col("block_off") + coalesce(sum("n_toks").over(wIn), lit(0L)))
      .select(col("doc_id"), col("n_toks"),
        expr(s"start div ${budget}L").as("shard"))
  }

  val oracles: Map[String, String] = Map(
    // DuckDB can afford the window-over-everything form at oracle scale;
    // the exclusive prefix sum reproduces the blocked result exactly
    "q_pack_sequences" ->
      ("SELECT doc_id, n_toks, CAST((cum - n_toks) // 4096 AS BIGINT) AS shard FROM (" +
        "SELECT doc_id, n_toks, sum(n_toks) OVER (ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM (" +
        "SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks " +
        "FROM documents))"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pack_sequences" -> ((s, d) => packSequences(s, d)))
}
