package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table (read through [[Tables.read]] with its pinned
  * schema): token counting, quality scoring, n-gram Jaccard similarity,
  * language ID, and document fingerprinting.
  *
  * The reference's text analytics are its word-frequency scoring rules
  * (reference: parse/element/wordfre/WordFreqRule.java:15-39,
  * WordFreqAttrCalc.java:13-47) and TextProfileSignature
  * (crawl/TextProfileSignature.java:56-150); these operators generalize the
  * same tokenize→hash→aggregate shape to corpus curation at 100 TB:
  * everything is per-row narrow work (codegen'd `functions._` lambdas) or
  * a single hash-partitioned shuffle — no driver-side state.
  */
object TextOps {

  /** Non-empty whitespace tokens, as a reusable Column. Codegen'd higher-
    * order functions — no UDF in the hot path.
    */
  def tokensCol(text: Column): Column =
    filter(split(text, " "), x => x =!= lit(""))

  /** Token counting: whitespace tokens, a BPE-ish regex tokenizer
    * (GPT-2-style word/number/punct pieces with leading-space
    * attachment), and the ceil(chars/4) rough estimate.
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents").select(
      col("doc_id"),
      size(tokensCol(col("text"))).as("n_tokens"),
      size(regexp_extract_all(col("text"),
        lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), lit(0))).as("bpe_tokens"),
      ceil(length(col("text")) / 4.0).cast("long").as("bpe_est"),
      col("n_chars"))

  private val stopwords = Seq("the", "a", "of", "and", "in", "to")

  /** Quality scoring: token count, stopword count/ratio, mean word length,
    * punctuation count — the length/punct/stopword-ratio heuristics used to
    * filter web corpora.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = tokensCol(col("text"))
    val stop = filter(toks, x => x.isInCollection(stopwords))
    Tables.read(s, dir, "documents").select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(stop).as("n_stop"),
      round(size(stop) / greatest(size(toks), lit(1)).cast("double"), 4)
        .as("stop_ratio"),
      round(length(regexp_replace(col("text"), " ", "")) /
        greatest(size(toks), lit(1)).cast("double"), 4).as("mean_word_len"))
  }

  /** Token-level Jaccard near-dup pairs within a `source`, with MinHash
    * band keys as the candidate block. Round-2 shape blocked on `source`
    * alone — a FIXED-cardinality key, so per-block pair counts grew
    * quadratically with the corpus. Now the block is
    * (source, band, band-key): `numBands` single-hash MinHash bands over
    * the distinct-token set, gated on >= `minBandMatches` collisions
    * ([[Dedup.bandedPairs]]), then exact columnar Jaccard verification at
    * `threshold`.
    *
    * Recall bound (what keeps the DuckDB brute-force oracle valid): a pair
    * at j >= 0.2 fails the 2-of-96 gate with
    * p = (1-j)^96 + 96*j*(1-j)^95 <= 1.2e-8 — probabilistic equality,
    * dataset-verified by the driver. Selectivity: the near-disjoint mass
    * that dominates a real corpus is pruned (a j=0.01 pair passes the gate
    * with p ~ 0.25, j=0.001 with p ~ 0.004), and per-block pair count is
    * bounded by similarity structure instead of corpus size.
    *
    * `capDocs` additionally pins the driver query's input (first-K by
    * doc_id, both engines): the OUTPUT of a j>=0.2 all-pairs query is
    * itself quadratic on a shared-vocabulary corpus, so the benchmark
    * fixes its input size rather than riding corpus growth.
    */
  def jaccardPairs(s: SparkSession, dir: String, numBands: Int = 96,
      minBandMatches: Int = 2, threshold: Double = 0.2,
      capDocs: Int = 0): DataFrame = {
    val d0 = Tables.read(s, dir, "documents").select(col("doc_id"),
      col("source"), array_distinct(tokensCol(col("text"))).as("toks"))
    val d = if (capDocs > 0) d0.orderBy(col("doc_id")).limit(capDocs) else d0
    // each single-hash band's key is its signature element
    Dedup.verifiedPairs(d.select(col("doc_id"), col("source"),
      tokenSignature(col("toks"), numBands).as("sig"), col("toks").as("set")),
      identity, minBandMatches, threshold, Seq("source"))
  }

  /** MinHash signature of a token-set column. */
  private[operators] def tokenSignature(toks: Column, numHashes: Int): Column =
    udf((t: Seq[String]) => Dedup.minHashOfSet(t.toIndexedSeq, numHashes))
      .apply(toks)

  /** Exact dedup by content signature (D3: MD5 signature, reference
    * crawl/MD5Signature.java:32-50): group identical texts, keep the
    * smallest doc_id as canonical.
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("sig"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))

  /** A5: word-frequency scoring (reference:
    * parse/element/wordfre/WordFreqRule.java:15-39, WordFreqAttrCalc.java:13-47
    * — tokenize, word->freq map, topN kept). Explode -> partial-agg count ->
    * exact global top-K with tie-break.
    */
  def wordFreq(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(explode(tokensCol(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(20)

  // --- A5: positive/negative word-list sentiment scoring ---

  private val posWords = Seq("fast", "small", "value", "smart", "best")
  private val negWords = Seq("slow", "large", "waste", "broken", "worst")

  /** A5 in full (reference WordFreqAttrCalc 正负面 scoring,
    * parse/element/wordfre/WordFreqAttrCalc.java:13-47: tokenize, count
    * hits against positive/negative word lists, emit a score): pos/neg
    * hit counts and the normalized sentiment (pos-neg)/tokens. Pure
    * Column expressions — codegen'd, oracle-checkable.
    */
  def sentimentScore(s: SparkSession, dir: String): DataFrame = {
    val toks = tokensCol(col("text"))
    val pos = size(filter(toks, x => x.isInCollection(posWords)))
    val neg = size(filter(toks, x => x.isInCollection(negWords)))
    Tables.read(s, dir, "documents").select(
      col("doc_id"),
      pos.as("n_pos"),
      neg.as("n_neg"),
      round((pos - neg) / greatest(size(toks), lit(1)).cast("double"), 4)
        .as("sentiment"))
  }

  // --- language ID (n-gram heuristic) ---

  /** Tiny trigram-profile language identifier. Deterministic, pure; the
    * profiles are hand-built from characteristic function words. Returns
    * ISO code or "und".
    */
  private[operators] val langMarkers: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Set("le", "la", "les", "et", "est", "pas", "une", "dans"),
    "es" -> Set("el", "la", "los", "las", "es", "una", "para", "como"),
    "zh" -> Set.empty) // zh detected by CJK codepoint ratio, not tokens

  def detectLang(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val cjk = text.codePoints.toArray.count(cp =>
      Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN)
    if (cjk * 5 >= text.length) return "zh"
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) return "und"
    val scores = langMarkers.collect {
      case (lang, markers) if markers.nonEmpty =>
        lang -> toks.count(markers.contains)
    }
    val (best, cnt) = scores.maxBy { case (l, c) => (c, l) }
    if (cnt == 0) "und" else best
  }

  /** Language ID as a pure Column expression (codegen'd, oracle-checkable):
    * the same marker-count heuristic as detectLang — CJK character ratio
    * => zh, else argmax over marker-token counts with ties broken toward
    * the lexicographically larger code (detectLang's maxBy order), zero
    * markers => und.
    */
  def langIdCol(text: Column): Column = {
    val toks = filter(split(lower(text), "\\s+"), x => x =!= lit(""))
    def score(lang: String): Column =
      size(filter(toks, x => x.isInCollection(langMarkers(lang))))
    val en = score("en"); val de = score("de")
    val fr = score("fr"); val es = score("es")
    val best = greatest(en, de, fr, es)
    val cjk = size(regexp_extract_all(text, lit("[一-鿿]"), lit(0)))
    when(length(text) > 0 && cjk * 5 >= length(text), lit("zh"))
      .when(best === 0, lit("und"))
      .when(fr === best, lit("fr")) // descending code order = maxBy tie-break
      .when(es === best, lit("es"))
      .when(en === best, lit("en"))
      .otherwise(lit("de"))
  }

  def langId(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents").select(col("doc_id"), col("lang"),
      langIdCol(col("text")).as("pred_lang"))

  // --- document fingerprint (rolling hash; oracle-gated: DuckDB emulates
  // the 64-bit wrap in HUGEINT — see the q_fingerprint oracle) ---

  /** Rabin-Karp rolling-hash document fingerprint: 64-bit polynomial hash
    * over the character stream (h = h*B + c). Order-sensitive content
    * identity — equal texts collide, distinct texts differ w.h.p. even over
    * a tiny shared vocabulary (where bottom-k shingle sketches collide).
    * Near-dup similarity is MinHash's job (Dedup.minHashPairs); this is the
    * exact-identity key.
    */
  def fingerprint(text: String): Long = {
    if (text == null) return 0L
    val B = 1099511628211L // FNV64 prime as the rolling base
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < text.length) {
      h = h * B + text.charAt(i)
      i += 1
    }
    h
  }

  def fingerprints(s: SparkSession, dir: String): DataFrame = {
    val fp = udf((t: String) => fingerprint(t))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), fp(col("text")).as("fp"))
  }

  val oracles: Map[String, String] = Map(
    "q_boilerplate_ngrams" ->
      ("WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM documents), " +
        "segs AS (SELECT doc_id, array_to_string(ws[(i*2+1):(i*2+2)], ' ') AS seg " +
        "FROM w, unnest(range(0, len(ws)//2)) AS t(i)) " +
        "SELECT seg, count(DISTINCT doc_id) AS n_docs FROM segs " +
        "GROUP BY seg HAVING count(DISTINCT doc_id) >= 5"),
    "q_token_count" ->
      ("SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens, " +
        "len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS bpe_tokens, " +
        "cast(ceil(length(text) / 4.0) AS bigint) AS bpe_est, n_chars FROM documents"),
    "q_quality_score" ->
      ("SELECT doc_id, " +
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens, " +
        "len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','in','to'))) AS n_stop, " +
        "round(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','in','to'))) / " +
        "greatest(len(list_filter(string_split(text, ' '), x -> x <> '')), 1)::double, 4) AS stop_ratio, " +
        "round(length(replace(text, ' ', '')) / " +
        "greatest(len(list_filter(string_split(text, ' '), x -> x <> '')), 1)::double, 4) AS mean_word_len " +
        "FROM documents"),
    "q_jaccard_pairs" ->
      ("WITH docs_cap AS (SELECT doc_id, source, text FROM documents ORDER BY doc_id LIMIT 2000) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "round(len(list_intersect(a.toks, b.toks)) / " +
        "len(list_distinct(list_concat(a.toks, b.toks)))::double, 4) AS jaccard " +
        "FROM (SELECT doc_id, source, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks FROM docs_cap) a " +
        "JOIN (SELECT doc_id, source, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks FROM docs_cap) b " +
        "ON a.source = b.source AND a.doc_id < b.doc_id " +
        "WHERE round(len(list_intersect(a.toks, b.toks)) / " +
        "len(list_distinct(list_concat(a.toks, b.toks)))::double, 4) >= 0.2"),
    "q_exact_dedup" ->
      "SELECT md5(text) AS sig, min(doc_id) AS keeper, count(*) AS n FROM documents GROUP BY 1",
    "q_word_freq" ->
      ("SELECT word, count(*) AS cnt FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word " +
        "FROM documents) GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20"),
    "q_sentiment" ->
      ("SELECT doc_id, n_pos, n_neg, round((n_pos - n_neg) / greatest(n_toks, 1)::double, 4) AS sentiment FROM (" +
        "SELECT doc_id, " +
        "len(list_filter(string_split(text, ' '), x -> x IN ('fast','small','value','smart','best'))) AS n_pos, " +
        "len(list_filter(string_split(text, ' '), x -> x IN ('slow','large','waste','broken','worst'))) AS n_neg, " +
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks FROM documents)"),
    "q_lang_id" ->
      ("SELECT doc_id, lang, CASE " +
        "WHEN length(text) > 0 AND len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) * 5 >= length(text) THEN 'zh' " +
        "WHEN greatest(en, de, fr, es) = 0 THEN 'und' " +
        "WHEN fr = greatest(en, de, fr, es) THEN 'fr' " +
        "WHEN es = greatest(en, de, fr, es) THEN 'es' " +
        "WHEN en = greatest(en, de, fr, es) THEN 'en' ELSE 'de' END AS pred_lang FROM (" +
        "SELECT doc_id, lang, text, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('the','and','of','to','in','is','that','with'))) AS en, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('der','die','das','und','ist','nicht','mit','ein'))) AS de, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('le','la','les','et','est','pas','une','dans'))) AS fr, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ('el','la','los','las','es','una','para','como'))) AS es " +
        "FROM documents)"),
    // 64-bit wrap-around emulated in HUGEINT (int128): h*B+c stays under
    // 2^104, reduced mod 2^64 each step, then mapped to signed int64.
    // unicode(char) == the UTF-16 unit Scala folds for all BMP text
    // (astral chars would differ; none exist in the corpus). The empty
    // string must filter out string_split's [''] artifact.
    "q_fingerprint" ->
      ("SELECT doc_id, CAST(CASE WHEN r >= 9223372036854775808::HUGEINT " +
        "THEN r - 18446744073709551616::HUGEINT ELSE r END AS BIGINT) AS fp " +
        "FROM (SELECT doc_id, list_reduce(" +
        "list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(list_filter(string_split(text, ''), c -> c <> ''), " +
        "c -> unicode(c)::HUGEINT)), " +
        "(acc, c) -> (acc * 1099511628211::HUGEINT + c) % " +
        "18446744073709551616::HUGEINT) AS r FROM documents)"))

  /** Cross-document boilerplate detection (the training-data "remove
    * repeated template text" pass, cf. C4/RefinedWeb dedup pipelines):
    * documents segment into consecutive `n`-word shingle strings; a
    * segment appearing in >= `minDocs` DISTINCT documents is boilerplate.
    * All codegen'd array ops (split/slice/array_join over a guarded
    * sequence — Spark's sequence(0,-1) counts DOWN, so empty docs need
    * the when() guard) + one hash-partitioned count-distinct shuffle:
    * the scan side is narrow at any corpus size.
    *
    * Precondition: `documents` holds exactly one row per `doc_id` (its
    * key in the generated tables). The segment count is a row count, so a
    * `doc_id` on two rows would count twice.
    */
  def boilerplateNgrams(s: SparkSession, dir: String, n: Int = 2,
      minDocs: Int = 5): DataFrame = {
    // Round-7: materialize the token array ONCE per row in its own
    // projection. The round-6 form referenced `tokensCol(text)` inside
    // the transform() lambda, and Spark evaluates lambda bodies per
    // element without hoisting loop invariants — split+filter re-ran per
    // SEGMENT, O(tokens^2) per document (driver-measured 18 s at sf0.1;
    // this form ~1 s warm). CollapseProject keeps the two projections
    // separate because `ws` is referenced more than once. (A typed
    // flatMap segmentation was also tried for the residual one-shot cold
    // cost — no measurable difference: the cold gap is generic first-run
    // JIT, not this expression chain.)
    val nSegs = floor(size(col("ws")) / n).cast("int")
    val segs = when(nSegs > 0,
      transform(sequence(lit(0), nSegs - 1),
        i => array_join(slice(col("ws"), i * n + lit(1), lit(n)), " ")))
      .otherwise(array())
    // Round-7 second cut: dedupe segments PER DOCUMENT in the array
    // (array_distinct — an O(segments) hash set per row) before the
    // explode, so each doc contributes each segment exactly once and
    // count(*) == countDistinct(doc_id) under the one-row-per-doc_id
    // precondition above. countDistinct planned as TWO
    // exchanges (partial dedup on (seg, doc_id), then recount on seg);
    // this is ONE exchange with map-side partial aggregation (§2.3
    // aggregate-before-shuffle + §2.4), and the shuffle carries (seg,
    // partial count) instead of every (seg, doc_id) pair.
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ws"))
      .select(explode(array_distinct(segs)).as("seg"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_boilerplate_ngrams" -> ((s, d) => boilerplateNgrams(s, d)),
    "q_token_count" -> tokenCount _,
    "q_sentiment" -> sentimentScore _,
    "q_quality_score" -> qualityScore _,
    "q_jaccard_pairs" -> ((s, d) => jaccardPairs(s, d, capDocs = 2000)),
    "q_exact_dedup" -> exactDedup _,
    "q_lang_id" -> langId _,
    "q_word_freq" -> wordFreq _,
    "q_fingerprint" -> fingerprints _)
}
