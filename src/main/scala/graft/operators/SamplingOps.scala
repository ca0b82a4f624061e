package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus curation: rebalancing a skewed
  * corpus (one dominant language/source) is a standard step between
  * dedup and training, and it must be REPRODUCIBLE — the same corpus
  * must yield the same sample on every run, cluster size, and engine,
  * which rules out `rand()` (per-task, per-retry nondeterminism) and
  * TABLESAMPLE (partition-dependent).
  *
  * Priority sampling: each row gets a pseudo-random but deterministic
  * priority from a keyed hash; a stratum keeps its K lowest-priority
  * rows. Equivalent to a uniform K-sample per stratum, stable under
  * corpus growth (a new doc displaces at most one boundary doc), and
  * cross-engine checkable because the priority is the md5-derived
  * 64-bit pattern both Spark and DuckDB compute (Dedup.tokenHash64 ==
  * DuckDB `md5_number_lower`).
  *
  * Scale shape: one hash-partition shuffle on the stratum key; the
  * rank filter is pushed below the exchange as WindowGroupLimit
  * (per-partition top-K before the shuffle), so a 90%-one-language
  * corpus ships at most K rows per map partition for that language,
  * not the whole stratum. The md5 priority is the per-row cost — fine
  * at scale, it is the same digest the signature stage already pays.
  * The corpus is the `documents` table, read through [[Tables.read]].
  */
object SamplingOps {

  /** Deterministic per-row priority in [0, 10^9): the md5-derived
    * 64-bit pattern of the key's decimal rendering, folded by UNSIGNED
    * modulus — signed vs unsigned 64-bit ORDERING differs between
    * engines, the folded value does not.
    */
  val priority = udf((key: Long) =>
    java.lang.Long.remainderUnsigned(Dedup.tokenHash64(key.toString),
      1000000000L))

  /** Per-stratum deterministic K-sample of the documents table,
    * stratified by the `lang` column: keep each stratum's K
    * lowest-priority docs. Output (doc_id, lang, rn) with rn the
    * 1-based priority rank inside the stratum.
    */
  def stratifiedSample(s: SparkSession, dir: String, perStratum: Int = 40)
      : DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("pri"), col("doc_id"))
    Tables.read(s, dir, "documents").select(col("doc_id"), col("lang"),
        priority(col("doc_id")).as("pri"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perStratum)
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  /** Deterministic Bernoulli-by-hash sample: keep a row iff its priority
    * falls under `keepPerBillion`. Rate-based twin of stratifiedSample
    * for when the output should scale WITH the corpus; same
    * reproducibility argument, no shuffle at all (pure filter).
    */
  def hashSample(df: DataFrame, keyCol: String, keepPerBillion: Long)
      : DataFrame =
    df.filter(priority(col(keyCol)) < lit(keepPerBillion))

  val oracles: Map[String, String] = Map(
    "q_stratified_sample" ->
      ("SELECT doc_id, lang, rn FROM (" +
        "SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5_number_lower(CAST(doc_id AS VARCHAR)) % 1000000000, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 40"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stratified_sample" -> ((s, d) => stratifiedSample(s, d)))
}
